#!/usr/bin/env python3
"""Benchmark of the CDC replay engine and its query suite.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine with perfbench/build.py,
starts one benchmark JVM per core level (perfbench/src/PerfBench.scala),
checks every output against its oracle, and prints as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones, from the parts measured with a Spark listener on. Workloads,
metrics and the layer each one should move are described in
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

# Sizes chosen so that one untraced run of each workload ends in about a
# minute on a 4-core host (see README.md).
CATCHUP_EPOCHS = 5  # the first two are warm-up
EPOCH_EVENTS = 200_000
KEYS = 200_000
STREAM_RATE = 20_000  # events/s
# the repository's test data at scale factor 0.01 (TESTDATA.md, seed 42),
# copied byte for byte; SHA256SUMS there pins it
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")
# One query per module the suite reaches, plus the ones ROADMAP names as open
# items; the full 50 take longer than one run may (README.md).
QUERIES = ["cdc_envelope_decode", "cdc_roundtrip_avro", "cdc_roundtrip_proto", "cdc_schema_embed",
           "doc_fingerprint", "emb_lsh_ann", "mm_features", "q1_pricing_summary"]

def host():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # the heap rule of the repository's test command (ROADMAP.md): half the
    # host's memory, 2..8 GiB
    heap_g = min(8, max(2, mem_kb // 2097152))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "heap": f"{heap_g}g"}


class Run:
    def __init__(self, args):
        self.args = args
        self.build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        self.classpath = build.build(self.build_dir)
        self.host = host()
        self.cds = os.path.join(self.build_dir, "perfbench.jsa")
        self.dir = os.path.join(self.build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.trace_dir = os.path.join(self.build_dir, "traces")
        os.makedirs(self.trace_dir, exist_ok=True)
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.info = {}
        self.queries = []
        if not os.path.exists(self.cds) or os.path.getmtime(self.cds) < os.path.getmtime(
                os.path.join(self.build_dir, "perfbench.jar")):
            self.train_cds()

    def java(self, extra, opts):
        # native libraries unpack into java.io.tmpdir, Spark keeps artifacts
        # there: keep both in the run's scratch; no perf-data file in /tmp
        tmp = os.path.join(opts["scratch"], "tmp")
        os.makedirs(tmp)
        home = os.environ.get("JAVA_HOME")
        java = os.path.join(home, "bin", "java") if home else "java"
        with open(os.path.join(self.build_dir, "jvm-options")) as f:
            spark_opts = f.read().split()
        return ([java, f"-Xmx{self.host['heap']}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                 *extra, *spark_opts, "-cp", self.classpath,
                 "graftbench.PerfBench"] + [f"{k}={v}" for k, v in opts.items()])

    def train_cds(self):
        """Part of the build: a short catch-up whose loaded classes become a
        class-data archive, which every benchmark JVM maps at start. It cuts
        each JVM's start by seconds on both sides of a comparison alike."""
        scratch = os.path.join(self.build_dir, "runs", f"cds-{os.getpid()}")
        os.makedirs(scratch)
        tmp = self.cds + ".tmp"
        opts = dict(mode="cdc", cores=self.host["nproc"], seed=1, seconds=2, trace=0, scratch=scratch,
                    out=os.path.join(scratch, "result.json"), epochs=3, epoch_events=20000,
                    keys=20000, rate=0)
        try:
            with open(os.path.join(scratch, "jvm.log"), "w") as lf:
                proc = subprocess.Popen(self.java([f"-XX:ArchiveClassesAtExit={tmp}"], opts),
                                        stdout=lf, stderr=subprocess.STDOUT)
                try:
                    proc.wait(timeout=300)
                finally:
                    if proc.poll() is None:
                        proc.kill()
                    proc.wait()
            if proc.returncode == 0 and os.path.exists(tmp):
                os.replace(tmp, self.cds)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def jvm(self, name, mode, cores, trace, **kw):
        """Run one benchmark JVM to completion; returns its result object."""
        scratch = os.path.join(self.dir, name)
        os.makedirs(scratch)
        out = os.path.join(scratch, "result.json")
        spans = os.path.join(self.trace_dir, f"{self.args.workload}-seed{self.args.seed}-{name}.jsonl")
        opts = dict(mode=mode, cores=cores, seed=self.args.seed, seconds=self.args.seconds,
                    trace=trace, scratch=scratch, out=out, spans=spans, **kw)
        cds = [f"-XX:SharedArchiveFile={self.cds}"] if os.path.exists(self.cds) else []
        cmd = self.java(cds, opts)
        log = os.path.join(scratch, "jvm.log")
        start = time.time()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=170)
            finally:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise RuntimeError(f"benchmark JVM {name} exited with {proc.returncode}")
        kept = os.path.join(self.build_dir, "results")
        os.makedirs(kept, exist_ok=True)
        shutil.copy(out, os.path.join(
            kept, f"{self.args.workload}-seed{self.args.seed}-trace{trace}-{name}.json"))
        with open(out) as f:
            r = json.load(f)
        r["setup_s"] = r["setup_end"] - start
        self.attempted += r["attempted"]
        self.failed += r["failed"]
        self.errors += r["errors"]
        for c in r.get("checks", []):
            self.info.setdefault("tables", []).append({"jvm": name, **c})
        self.info.setdefault("jvm", {"version": r["jvm_version"], "spark": r["spark_version"],
                                     "heap_max_mb": round(r["heap_max_mb"])})
        if trace:
            self.info["spans"] = os.path.relpath(spans)
        return r

    def source(self):
        """Identity of the measured code: the build's source digest, and the
        git commit when the checkout is a repository."""
        with open(os.path.join(self.build_dir, "classes.sha256")) as f:
            out = {"sources_sha256": f.read()}
        try:
            git = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
            if git.returncode == 0:
                out["git_commit"] = git.stdout.strip()
        except OSError:
            pass
        return out

    def check(self, what, ok):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def repeat_check(self, record):
        """Counts that must repeat exactly for one seed on one build: compare
        with the record of an earlier run in this build directory."""
        with open(os.path.join(self.build_dir, "classes.sha256")) as f:
            ident = f.read()[:16]
        path = os.path.join(self.build_dir, "repeat",
                            f"{self.args.workload}-seed{self.args.seed}-{ident}.json")
        if os.path.exists(path):
            with open(path) as f:
                old = json.load(f)
            for k, v in record.items():
                if k in old:
                    self.check(f"{k} differs from an earlier run with this seed: {v} vs {old[k]}",
                               old[k] == v)
            record = {**old, **record}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(record, f)


def e2e(r, phase):
    return {k: phase[k] for k in ("rate_per_s", "latency_p50_s", "latency_p90_s", "read_p50_s")} | {
        "setup_s": r["setup_s"]}


def cdc_replay(run):
    a = run.args
    n = run.host["nproc"]
    sizes = dict(epochs=CATCHUP_EPOCHS, epoch_events=EPOCH_EVENTS, keys=KEYS)
    run.info["workload"] = dict(catch_up="closed loop", stream=f"open loop at {STREAM_RATE} events/s",
                                cores=[1, n] if a.trace else [n], **sizes)
    if a.trace:
        run.info["workload"]["stream_mor"] = (
            f"open loop at {STREAM_RATE} events/s into a mor table, compaction past 1 delta")
    # the 1-core baseline replays the warm-up epochs and the first timed one
    one = run.jvm("c1", "cdc", 1, 1, rate=0, replay_epochs=3, **sizes) if a.trace else None
    verify = {"verify": os.path.join(run.dir, "c1", "table-c1"), "verify_epochs": 3} if one else {}
    r = run.jvm(f"c{n}", "cdc", n, a.trace, rate=STREAM_RATE, **sizes, **verify)
    r["setup_s"] += r["setup_extra_s"]
    c = r["traced"] if a.trace else r["untraced"]
    run.repeat_check({"catch_up": r["catch_up"], "dedup.records_in": c["dedup.records_in"],
                      "dedup.records_out": c["dedup.records_out"]}
                     | ({"jobs_per_epoch": c["jobs_per_epoch"]} if a.trace else {}))
    facts = ("stream_events", "stream_epochs", "backlog_at_end", "vacuums", "compactions")
    run.info["stream"] = {k: c[k] for k in facts}
    if "mor" in r:
        run.info["stream_mor"] = {k: r["mor"][k] for k in facts}
    if not a.trace:
        return e2e(r, c)
    return c["layers"] | {
        "jvm.peak_rss_mb": r["peak_rss_mb"],
        "engine.replay_eps_1c": one["traced"]["rate_per_s"],
        "engine.scaling_eff": one["traced"]["epoch_s"][0] / (n * c["epoch_s"][0])}


def compare_outputs(run, data_dir, out_dir):
    """The DuckDB oracle comparison of tools/selfcheck.py: same schema, same
    row count, same multiset of rows rendered as strings."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for name in run.queries:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            run.check(f"{name}: no output", False)
            continue
        got = pq.read_table(files).to_pandas()
        if name not in oracle:
            run.check(f"{name}: empty output", len(got) > 0)
            continue
        want = con.execute(oracle[name]).df()
        cols = sorted(got.columns)
        if cols != sorted(want.columns) or len(got) != len(want):
            run.check(f"{name}: schema or row count differs from the oracle", False)
            continue
        def rows(df):
            return sorted("|".join(r) for r in df[cols].astype(str).itertuples(index=False))
        run.check(f"{name}: rows differ from the oracle", rows(got) == rows(want))


FAMILIES = ("cdc", "doc", "emb", "mm", "q")


def check_data(run):
    """The query input must be the pinned copy of the repository's data."""
    with open(os.path.join(QUERY_DATA, "SHA256SUMS")) as f:
        for line in f:
            want, name = line.split()
            with open(os.path.join(QUERY_DATA, name), "rb") as g:
                run.check(f"{name}: differs from SHA256SUMS", hashlib.sha256(g.read()).hexdigest() == want)


def query_suite(run):
    a = run.args
    check_data(run)
    run.info["workload"] = dict(loop="closed", data="perfbench/data/sf0.01 (TESTDATA.md sf0.01)",
                                cores=[run.host["nproc"]])
    results = os.path.join(run.dir, "results")
    r = run.jvm(f"c{run.host['nproc']}", "queries", run.host["nproc"], a.trace,
                data=QUERY_DATA, results=results, queries=",".join(QUERIES))
    run.queries = r["queries"]
    compare_outputs(run, QUERY_DATA, results)
    u = r["untraced"]
    run.info["untraced"] = {"passes": u["passes"], "query_total_s": u["query_total_s"]}
    if not a.trace:
        return e2e(r, u)
    t = r["traced"]
    per = t["per_query_s"]
    out = {f"query.{q}_s": per[q] for q in run.queries}
    for fam in FAMILIES:
        out[f"query.{fam}_s"] = sum(v for q, v in per.items() if re.match(r"[a-z]+", q).group() == fam)
    out["trace.overhead"] = t["query_total_s"] / u["query_total_s"] - 1
    out["jvm.peak_rss_mb"] = r["peak_rss_mb"]
    return out


WORKLOADS = {"cdc-replay": cdc_replay, "query-suite": query_suite}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    run = Run(args)
    try:
        values = WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    run.info["host"] = run.host | {
        "label": f"measured on this {run.host['nproc']}-core host; not comparable with the "
                 "r01-r06 artifacts (BENCH_r0*.json), which came from a 32-cpu host"}
    run.info["source"] = run.source()
    for e in run.errors:
        print(f"[perfbench] FAILED: {e}", file=sys.stderr)
    print(json.dumps({"provenance": run.info}))
    for k, m in metrics.items():
        print(f"{args.workload:12s} {k:34s} {m['value']:14.6g} {m['unit']}")
    print(json.dumps({"correct": run.failed == 0, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
