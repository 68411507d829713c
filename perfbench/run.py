#!/usr/bin/env python3
"""Crawl, search and curation benchmark for the graft Spark engine.

    python3 perfbench/run.py --workload crawl|curate --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

One run builds the engine and the benchmark code once (sbt, offline; the
classes stay in perfbench/target), generates its inputs from the seed,
runs the workload in one JVM with at most nproc Spark task threads, checks
the outputs, and prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (and writes the span table to perfbench/traces/). The exit
code is 0 only when every check passed. Everything a run writes lives under
perfbench/.work/<run> and is removed at the end; no process outlives it.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_LIMIT_S = 160  # a run, build excluded, must end well within 180 s
BUILD_LIMIT_S = 850

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]

# curate inputs: sizes of the generated tables. The embeddings do not depend
# on --seed, so the DuckDB results of the ANN twins (q53 and q54 take
# seconds each in DuckDB) are cached in ANN_CACHE, keyed by the table's
# content and the SQL; a stale or missing cache is recomputed and rewritten.
CURATE_DOCS = 1000
CURATE_VECS = 300
PRIME_DOCS, PRIME_VECS = 100, 80  # priming tables: every code path, little data
CURATE_DIM = 64  # the ANN oracles are written for 64 dimensions
DOC_WORDS = 40
EMBED_SEED = 20261019
ANN_CACHE = os.path.join(HERE, "ann_oracle.json")
WORDS = ("spark slow line value filter customer fast stream hash table key group "
         "query the scan order window join part vector small data row sort batch "
         "column agg big a merge crawl frontier index page link host queue shard "
         "token score fetch parse robot bloom cuckoo salt skew limit count span "
         "media text offset graph seed budget epoch manifest").split()


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, or the install that holds spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install: set SPARK_HOME")
    return home


def build():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building (sbt compile, offline)")
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out")
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


# ---------------------------------------------------------------- inputs

def write_curate_inputs(seed, out_dir, n_docs=CURATE_DOCS, n_vecs=CURATE_VECS):
    """documents(doc_id, text) with near-duplicate families, and
    embeddings(vec_id, embedding float[64], label) drawn around 16 centres.
    Returns a digest of the embeddings."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    # a fixed make-up, so that seeds change the words but not the amount of
    # near-duplicate work: DOC_WORDS words per doc, and every fourth doc a
    # copy of an earlier one with two words replaced
    rng = random.Random(seed)
    texts = []
    for i in range(n_docs):
        if i % 4 == 3:
            words = texts[rng.randrange(i)].split()
            for p in rng.sample(range(DOC_WORDS), 2):
                words[p] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(DOC_WORDS)]
        texts.append(" ".join(words))
    os.makedirs(out_dir)
    pq.write_table(pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   os.path.join(out_dir, "documents.parquet"))
    gen = np.random.default_rng(EMBED_SEED)
    centres = gen.normal(size=(16, CURATE_DIM))
    labels = gen.integers(0, 16, size=n_vecs)
    vecs = ((centres[labels] + 1.5 * gen.normal(size=(n_vecs, CURATE_DIM))) / 10.0
            ).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels.tolist(), pa.int32())}),
        os.path.join(out_dir, "embeddings.parquet"))
    return hashlib.sha256(vecs.tobytes() + labels.astype(np.int32).tobytes()).hexdigest()


# ---------------------------------------------------------------- processes

def stop(proc):
    """Kill a child's whole process group and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def heap_mb():
    """A sixth of the box's memory, clamped to [1, 2] GB. The heap is fixed
    and touched at start (-Xms = -Xmx, AlwaysPreTouch): a growable G1 heap
    sizes itself from GC timing, which moved peak RSS by 40% between
    identical runs."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(1024, min(2048, kb // 6144))


def run_jvm(args, work, deadline):
    heap = heap_mb()
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS +
           ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        stop(proc)
        logf.close()
    with open(os.path.join(work, "jvm.log")) as fh:
        text = fh.read()
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            log(line)
    if rc != 0:
        log(text[-4000:])
        fail("the benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))


# ---------------------------------------------------------------- checks

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def canon(df):
    """tools/check_oracle.py's comparison form: columns by name, values
    stringified (floats to 6 significant digits), rows sorted."""
    import pandas as pd

    def fmt(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v)
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.apply(lambda c: c.map(fmt))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def frames_equal(got, want):
    """None when equal, else what differs."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    if not g.equals(w):
        bad = (g != w).any(axis=1)
        j = bad[bad].index[0]
        return f"{int(bad.sum())} rows differ, e.g. {g.loc[j].tolist()} != {w.loc[j].tolist()}"
    return None


def ann_oracle(con, sql, embeddings_sha):
    """DuckDB rows of the ANN twins, from ANN_CACHE when it matches."""
    import pandas as pd
    cache = {}
    if os.path.exists(ANN_CACHE):
        with open(ANN_CACHE) as fh:
            cache = json.load(fh)
    out, stale = {}, False
    for key, q in sql.items():
        tag = hashlib.sha256((embeddings_sha + q).encode()).hexdigest()
        hit = cache.get(key)
        if hit is None or hit["tag"] != tag:
            df = con.execute(q).df()
            cache[key] = {"tag": tag, "columns": list(df.columns),
                          "rows": json.loads(df.to_json(orient="values", double_precision=15))}
            stale = True
        out[key] = pd.DataFrame(cache[key]["rows"], columns=cache[key]["columns"])
    if stale:
        with open(ANN_CACHE, "w") as fh:
            json.dump(cache, fh, sort_keys=True)
            fh.write("\n")
    return out


def check_curate(info, embeddings_sha):
    import pandas as pd
    con = duck()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(info['tables'], t + '.parquet')}'")
    ann = ann_oracle(con, {k: q for k, q in info["oracle_sql"].items()
                           if k in info["ann"]}, embeddings_sha)
    checks = []
    for key, sql in sorted(info["oracle_sql"].items()):
        parts = glob.glob(os.path.join(info["outputs"][key], "*.parquet"))
        got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        want = ann[key] if key in ann else con.execute(sql).df()
        diff = frames_equal(got, want)
        checks.append({"name": f"curate.{key}", "ok": diff is None, "detail": diff or ""})
    return checks


def idf(df, shard_size):
    normalized = df * 65536 // max(shard_size, 1)
    return 1 << (normalized.bit_length() // 2)


def shift_of(d):
    np_ = 1 << (max(d, 1).bit_length() - 1)
    npow = d if np_ == d else np_ << 1
    return npow.bit_length() - 1


def topk(con, query, k, gate):
    """The reference's conjunctive top-k with its integer score math,
    computed here from the postings and docmeta tables alone."""
    terms = [t.lower() for t in query.split()]
    if not terms:
        return 0, []
    distinct = sorted(set(terms))
    marks = ",".join("?" * len(distinct))
    rows = con.execute(f"SELECT epoch, doc_id, term, score FROM postings "
                       f"WHERE term IN ({marks})", distinct).fetchall()
    shard = dict(con.execute("SELECT epoch, count(*) FROM docmeta GROUP BY epoch").fetchall())
    stats, per_doc = {}, {}
    for epoch, doc, term, score in rows:
        df_, mx = stats.get((epoch, term), (0, 0))
        stats[(epoch, term)] = (df_ + (score > 0), max(mx, score))
        per_doc.setdefault((epoch, doc), {})[term] = score
    shifts, scanned = {}, 0
    for epoch in shard:
        if all((epoch, t) in stats for t in distinct):
            scanned += shard[epoch]
            idfs0 = [idf(stats[(epoch, t)][0], shard[epoch]) for t in terms]
            idfs = [i // min(idfs0) for i in idfs0]
            denom = sum(stats[(epoch, t)][1] // i for t, i in zip(terms, idfs)) // 255 + 1
            shifts[epoch] = [shift_of(i * denom) for i in idfs]
    scored = []
    for (epoch, doc), m in per_doc.items():
        if epoch not in shifts or len(m) != len(distinct):
            continue
        sh = shifts[epoch]
        s = (m[terms[-1]] >> sh[-1]) & 0xFF
        for t, x in zip(terms[:-1], sh[:-1]):
            p = (m[t] >> x) & 0xFF
            s = 0 if p == 0 else (s + p) & 0xFF if s != 0 else s
        if s > 0:
            scored.append((epoch, doc, s))
    meta = {(e, d): (u, tc) for e, d, u, tc in
            con.execute("SELECT epoch, doc_id, url, term_count FROM docmeta").fetchall()}
    hits = sorted(((-s, d, meta[(e, d)]) for e, d, s in scored
                   if meta[(e, d)][1] >= gate), key=lambda x: (x[0], x[1]))[:k]
    return scanned, [{"url": u, "score": -ns, "term_count": tc} for ns, d, (u, tc) in hits]


def answer_diff(con, query, body, k, gate):
    """None when a /search response equals the reference top-k, else how not."""
    count, results = topk(con, query, k, gate)
    got = [{"url": r["url"], "score": r["score"], "term_count": r["term_count"]}
           for r in body["results"]]
    if body["count"] == count and got == results:
        return None
    return f"'{query}': count {body['count']} vs {count}, {len(got)} vs {len(results)} results"


def check_search(info):
    con = duck()
    con.execute(f"CREATE VIEW postings AS SELECT * FROM read_parquet("
                f"'{info['postings']}/**/*.parquet', hive_partitioning = true)")
    con.execute(f"CREATE VIEW docmeta AS SELECT * FROM read_parquet("
                f"'{info['docmeta']}/**/*.parquet', hive_partitioning = true)")
    bad = [d for d in (answer_diff(con, a["query"], json.loads(a["body"]), info["top_k"],
                                   info["term_count_gate"]) for a in info["answers"]) if d]
    return [{"name": "search.topk", "ok": not bad and bool(info["answers"]),
             "detail": "; ".join(bad[:3])}]


# ---------------------------------------------------------------- main

def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(a):
    spec = benchmark_spec()
    build()
    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        embeddings_sha = None
        if a.workload == "curate":
            embeddings_sha = write_curate_inputs(a.seed, os.path.join(work, "curate-in"))
            write_curate_inputs(a.seed + 1, os.path.join(work, "curate-prime"),
                                PRIME_DOCS, PRIME_VECS)
        out = os.path.join(work, "result.json")
        trace_out = os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work, "--threads",
                 str(len(os.sched_getaffinity(0))), "--t0-ms", str(int(t0 * 1000)),
                 "--out", out, "--trace-out", trace_out], work, deadline)
        with open(out) as fh:
            res = json.load(fh)
        checks = res["checks"]
        py = res.get("python", {})
        if "search" in py:
            checks += check_search(py["search"])
        if "curate" in py:
            checks += check_curate(py["curate"], embeddings_sha)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for c in checks:
        log(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}")
    if a.trace:  # for the tracing overhead: the same figures, traced
        log("end-to-end under tracing: " + json.dumps(res["e2e"]))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res["layer"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        if m["name"] in values:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        elif a.trace:  # a layer this workload does not exercise
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            fail(f"metric {m['name']} was not measured")
    correct = bool(checks) and all(c["ok"] for c in checks)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0 if correct else 1


def selftest():
    """Every correctness check must reject a perturbed output."""
    build()
    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    results = []
    try:
        out = os.path.join(work, "result.json")
        run_jvm(["--workload", "selftest", "--work", work, "--out", out], work,
                time.time() + RUN_LIMIT_S)
        with open(out) as fh:
            res = json.load(fh)
        results += res["checks"] + selftest_python(work, res["q39_sql"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for c in results:
        log(f"{'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}")
    bad = [c for c in results if not c["ok"]]
    log(f"{len(results) - len(bad)}/{len(results)} checks reject their perturbed output")
    return 1 if bad else 0


def selftest_python(work, q39_sql):
    """The Python-side checks on outputs made here from the oracles
    themselves: correct must pass, perturbed must fail."""
    import pandas as pd
    out = []

    def case(name, good, bad):
        ok = good is None and bad is not None
        out.append({"name": f"selftest: {name}", "ok": ok,
                    "detail": "" if ok else f"correct: {good}; perturbed: {bad}"})

    # curate: the q39 twin's own rows, then one keeper changed
    tables = os.path.join(work, "curate-in")
    write_curate_inputs(5, tables)
    con = duck()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    want = con.execute(q39_sql).df()
    perturbed = want.copy()
    dup = perturbed.index[perturbed["is_dup"] == 1][0]
    perturbed.loc[dup, "keeper_id"] = perturbed.loc[dup, "id"]
    case("q39 keeper changed", frames_equal(want.copy(), want), frames_equal(perturbed, want))
    near = want.copy()
    near.loc[0, "id"] = near.loc[0, "id"] + 100000
    case("q39 row replaced", frames_equal(want.copy(), want), frames_equal(near, want))

    # search: a tiny index, the reference top-k as the response, then two
    # results swapped and the count changed
    rng = random.Random(11)
    rows = [(e, d, t, rng.randint(1, 255)) for e in range(2) for d in range(40)
            for t in ("spark", "merge", "hash") if rng.random() < 0.8]
    pd.DataFrame(rows, columns=["epoch", "doc_id", "term", "score"]).to_parquet(
        os.path.join(work, "postings.parquet"))
    pd.DataFrame([(e, d, f"https://h{d}.example/d{d}", 8 + d % 3) for e in range(2)
                  for d in range(40)], columns=["epoch", "doc_id", "url", "term_count"]
                 ).to_parquet(os.path.join(work, "docmeta.parquet"))
    con = duck()
    con.execute(f"CREATE VIEW postings AS SELECT * FROM '{work}/postings.parquet'")
    con.execute(f"CREATE VIEW docmeta AS SELECT * FROM '{work}/docmeta.parquet'")
    q = "spark merge"
    count, res = topk(con, q, 20, 8)
    swapped = res[:]
    swapped[0], swapped[1] = swapped[1], swapped[0]
    good = answer_diff(con, q, {"count": count, "results": res}, 20, 8)
    case("two search results swapped", good,
         answer_diff(con, q, {"count": count, "results": swapped}, 20, 8))
    case("search count changed", good,
         answer_diff(con, q, {"count": count + 1, "results": res}, 20, 8))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["crawl", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    return run(a)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
