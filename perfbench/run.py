#!/usr/bin/env python3
"""The repository benchmark: the reference's JSONL -> KPI -> report pipeline
at three shapes plus a cold slice of the query catalog.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), makes its inputs from the seed, runs the workload as
a closed loop (one job at a time) for the given seconds, checks every
output against an independent oracle and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` the
per-layer ones. A record of each run (environment stamp, input hash,
every failure) is appended to `.bench_work/results.jsonl`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bitacora  # noqa: E402
import build  # noqa: E402
import catalog  # noqa: E402
import jvm  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")

DEEP_ROWS = 400_000
CLI_ROWS = 500
MIN_ITERS = 6
MAX_ITERS = 20

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "kpi_s": "s", "report_s": "s",
             "rows_per_s": "1/s", "cpu_s": "s", "ok_ratio": "ratio"}


def per_layer_units():
    u = {"cli.session.s": "s",
         "sources.requests": "count", "sources.retries": "count",
         "sources.ok_ratio": "ratio", "sources.stage.s": "s",
         "gen.stage.s": "s", "gen.rows_per_s": "1/s"}
    for span in ("scan", "normalize", "aggregate", "write_csv"):
        u.update({f"ops.{span}.self_s": "s", f"ops.{span}.task_cpu_s": "s",
                  f"ops.{span}.gc_s": "s", f"ops.{span}.shuffle_write_bytes": "bytes",
                  f"ops.{span}.spill_bytes": "bytes"})
    u.update({"ops.aggregate.sort_fallback_tasks": "count", "ops.groups": "count",
              "ops.keep_ratio": "ratio"})
    for span in ("read", "global", "endpoints", "render", "charts"):
        u[f"report.{span}.self_s"] = "s"
    u["report.html_bytes"] = "bytes"
    for q in catalog.QUERIES:
        u.update({f"operators.{q}.wall_s": "s", f"operators.{q}.task_cpu_s": "s",
                  f"operators.{q}.shuffle_bytes": "bytes", f"operators.{q}.spill_bytes": "bytes"})
    u["operators.staged_derive_s"] = "s"
    u["mem.peak_rss_mb"] = "MB"
    u["trace.overhead_s"] = "s"
    return u


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def load(path):
    with open(path) as fh:
        return json.load(fh)


def cached(kind, seed, make, keep=3):
    """Directory of seeded inputs, made once per (kind, seed); only the
    `keep` most recent seeds of a kind stay on disk."""
    base = os.path.join(WORK, "inputs")
    d = os.path.join(base, f"{kind}-{seed}")
    if not os.path.exists(os.path.join(d, "done")):
        tmp = fresh(d + ".tmp")
        make(tmp)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    others = sorted((p for p in glob.glob(os.path.join(base, f"{kind}-*"))
                     if p != d and not p.endswith(".tmp")), key=os.path.getmtime)
    for p in others[:max(len(others) - (keep - 1), 0)]:
        shutil.rmtree(p, ignore_errors=True)
    return d


def launch_failed(what, rc, seconds):
    """Why a launched JVM left no result: it exited non-zero, or it ran too
    long and was killed (a timeout, not an output check)."""
    if rc is None:
        return f"timeout: {what} killed after --seconds + {jvm.GRACE_S} s"
    return f"{what} exited {rc}"


class Run:
    """Closed-loop iterations of one workload and their outcomes."""

    def __init__(self, seconds):
        self.deadline = time.monotonic() + seconds
        self.iterations = 0
        self.attempted = 0
        self.samples = []
        self.failures = []

    def more(self):
        n = self.iterations
        return n == 0 or (time.monotonic() < self.deadline and n < MAX_ITERS)

    def record(self, sample, err, attempts=1):
        """One iteration: `err` is None, a message, or a list of messages
        (one per failed attempt when an iteration makes several)."""
        self.iterations += 1
        self.attempted += attempts
        errs = [err] if isinstance(err, str) else list(err or [])
        self.failures.extend(errs)
        if sample is not None and (attempts > 1 or not errs):
            self.samples.append(sample)


# --- bitácora workloads -------------------------------------------------

def prepare_bitacora(seed):
    def make(d):
        path = os.path.join(d, "bitacora.jsonl")
        log = bitacora.deep(seed, DEEP_ROWS)
        sha = bitacora.write_jsonl(log, path)
        kpi = oracle.kpi_from_rows(bitacora.read_jsonl([path]))
        cards, rows = oracle.report_from_kpi(kpi)
        with open(os.path.join(d, "expected.json"), "w") as fh:
            json.dump({"sha256": sha, "rows": len(log), "kpi": kpi,
                       "cards": cards, "endpoints": rows}, fh)
    d = cached(f"bitacora_deep_{DEEP_ROWS}", seed, make)
    exp = load(os.path.join(d, "expected.json"))
    exp["kpi"] = [tuple(r) for r in exp["kpi"]]
    exp["endpoints"] = [tuple(r) for r in exp["endpoints"]]
    return os.path.join(d, "bitacora.jsonl"), exp


def pipeline_run(env, loop, inp, exp, seconds, traced):
    """One process of closed-loop iterations; each iteration's outputs are
    checked. Per-iteration CPU and peak RSS come from the OS via the JVM;
    returns (process result, whole-process OS cpu s, peak RSS MB)."""
    out = fresh(os.path.join(WORK, "out", "pipeline"))
    res = os.path.join(out, "result.json")
    rc, cpu, rss = env.run(["pipeline", inp, out, "1" if traced else "0", res,
                            str(seconds), str(MIN_ITERS)], os.path.join(WORK, "jvm.log"), seconds)
    if rc != 0:
        loop.record(None, launch_failed("pipeline", rc, seconds))
        return None, cpu, rss
    r = load(res)
    for i, it in enumerate(r["iterations"]):
        err = (oracle.check_kpi_csv(os.path.join(it["dir"], "kpi"), exp["kpi"]) or
               oracle.check_report(os.path.join(it["dir"], "report.html"),
                                   (exp["cards"], exp["endpoints"])))
        it.update(setup_s=r["setup_s"])
        it["html_bytes"] = os.path.getsize(os.path.join(it["dir"], "report.html"))
        # the first iteration warms the JVM: checked, not timed
        loop.record(it if i else None, err)
    return r, cpu, rss


def bitacora_workload(env, seed, seconds, traced):
    inp, exp = prepare_bitacora(seed)
    record = {"input_sha256": exp["sha256"], "input_rows": exp["rows"]}
    loop = Run(seconds)
    r, cpu, rss = pipeline_run(env, loop, inp, exp, seconds, traced)
    record.update(process_cpu_s=cpu, process_peak_rss_mb=rss)
    if r is None or not loop.samples or (traced and loop.failures):
        return loop, {}, record
    if not traced:
        kpi_s = median([x["kpi_s"] for x in loop.samples])
        return loop, e2e(loop, {
            "kpi_s": kpi_s, "report_s": median([x["report_s"] for x in loop.samples]),
            "rows_per_s": exp["rows"] / kpi_s}), record
    base, t = r["iterations"][-2:]
    spans = {s["name"]: s for s in t["spans"]}
    m = {"cli.session.s": r["session_s"], "trace.overhead_s": t["wall_s"] - base["wall_s"],
         "mem.peak_rss_mb": base["peak_rss_mb"]}
    prefix = ["scan", "normalize", "aggregate", "write_csv"]
    for i, name in enumerate(prefix):
        cur = spans[f"ops.{name}"]
        prev = spans[f"ops.{prefix[i - 1]}"] if i else None
        for key, field in (("self_s", "wall_s"), ("task_cpu_s", "task_cpu_s"),
                           ("gc_s", "gc_s"), ("shuffle_write_bytes", "shuffle_write_bytes"),
                           ("spill_bytes", "spill_bytes")):
            m[f"ops.{name}.{key}"] = cur[field] - (prev[field] if prev else 0)
    m["ops.aggregate.sort_fallback_tasks"] = spans["ops.aggregate"]["sort_fallback_tasks"]
    m["ops.groups"] = kpi_rows(os.path.join(t["dir"], "kpi"))
    m["ops.keep_ratio"] = t["rows_kept"] / t["rows_scanned"]
    for name in ("read", "global", "endpoints", "render", "charts"):
        m[f"report.{name}.self_s"] = spans[f"report.{name}"]["wall_s"]
    m["report.html_bytes"] = t["html_bytes"]
    record["spans"] = t["spans"]
    return loop, m, record


def kpi_rows(kpi_dir):
    """Data rows of the KPI CSV the program wrote."""
    n = 0
    for part in glob.glob(os.path.join(kpi_dir, "part-*.csv")):
        with open(part, encoding="utf-8") as fh:
            n += sum(1 for _ in fh) - 1
    return n


def e2e(loop, extra):
    """End-to-end metrics from per-iteration samples: medians."""
    m = {k: median([x[k] for x in loop.samples]) for k in ("setup_s", "wall_s", "cpu_s")}
    m["ok_ratio"] = 1 - len(loop.failures) / loop.attempted
    m.update(extra)
    return m


# --- the reference's CLI recipe -----------------------------------------

CLI_STAGES = [("graft.cli.ClienteHttp", "cliente_http"),
              ("graft.cli.GenerarDatos", "generar_datos"),
              ("graft.cli.CalcularKpi", "calcular_kpi"),
              ("graft.cli.GenerarReporte", "generar_reporte")]


def cli_once(env, stub, seed, seconds):
    out = fresh(os.path.join(WORK, "out", "cli"))
    stub.hits.clear()
    stub.times.clear()
    stub.served_get = None
    args = [["--base_url", stub.base_url, "--out", os.path.join(out, "http")],
            ["--n_registros", str(CLI_ROWS), "--seed", str(seed),
             "--salida", os.path.join(out, "datos_jsonl")],
            ["--input", os.path.join(out, "datos_jsonl"), "--output", os.path.join(out, "kpi")],
            ["--input", os.path.join(out, "kpi"), "--output", os.path.join(out, "report.html"),
             "--umbral_p90", "300"]]
    stages = []
    t0 = time.monotonic()
    for (main, app), a in zip(CLI_STAGES, args):
        res = os.path.join(out, f"{app}.json")
        rc, cpu, rss = env.run(["launch", main, app, res] + a, os.path.join(WORK, "jvm.log"),
                               seconds)
        if rc != 0:
            return None, launch_failed(main, rc, seconds)
        r = load(res)
        r.update(cpu_s=cpu, peak_rss_mb=rss)
        stages.append(r)
    wall = time.monotonic() - t0
    err = stub.check_artifacts(os.path.join(out, "http"))
    parts = sorted(glob.glob(os.path.join(out, "datos_jsonl", "part-*")))
    h = hashlib.sha256()
    for p in parts:
        with open(p, "rb") as fh:
            h.update(fh.read())
    if not err:
        kpi = oracle.kpi_from_rows(bitacora.read_jsonl(parts))
        err = (oracle.check_kpi_csv(os.path.join(out, "kpi"), kpi) or
               oracle.check_report(os.path.join(out, "report.html"), oracle.report_from_kpi(kpi)))
    http, gen, kpi_st, rep = stages
    return {"setup_s": sum(s["setup_s"] for s in stages), "wall_s": wall,
            "kpi_s": kpi_st["run_s"], "report_s": rep["run_s"],
            "cpu_s": sum(s["cpu_s"] for s in stages),
            "peak_rss_mb": max(s["peak_rss_mb"] for s in stages),
            "session_s": median([s["session_s"] for s in stages]),
            "sources_s": http["run_s"], "gen_s": gen["run_s"],
            "requests": stub.requests(), "retries": stub.retries(),
            "input_sha256": h.hexdigest()}, err


def cli_workload(env, seed, seconds, traced):
    import stub as stubmod
    loop = Run(seconds)
    with stubmod.Stub() as stub:
        while loop.more():
            loop.record(*cli_once(env, stub, seed, seconds))
    record = {"input_sha256": [s["input_sha256"] for s in loop.samples]}
    if not loop.samples:
        return loop, {}, record
    if not traced:
        kpi_s = median([x["kpi_s"] for x in loop.samples])
        return loop, e2e(loop, {
            "kpi_s": kpi_s, "report_s": median([x["report_s"] for x in loop.samples]),
            "rows_per_s": CLI_ROWS / kpi_s}), record
    # the stub counts and the launcher's timings are taken on every pass and
    # no listener runs in the CLI JVMs, so tracing adds nothing here
    r = loop.samples[-1]
    return loop, {"cli.session.s": r["session_s"], "sources.requests": r["requests"],
                  "sources.retries": r["retries"],
                  "sources.ok_ratio": len(stubmod.TASKS) / r["requests"],
                  "sources.stage.s": r["sources_s"], "gen.stage.s": r["gen_s"],
                  "gen.rows_per_s": CLI_ROWS / r["gen_s"], "mem.peak_rss_mb": r["peak_rss_mb"],
                  "trace.overhead_s": 0.0}, record


def catalog_workload(env, seed, seconds, traced):
    """Passes of the catalog slice, one fresh JVM each; the corpus is fixed,
    so the seed does not change the inputs."""
    import duckdb
    corpus = cached("catalog_corpus", catalog.CORPUS_SEED, catalog.make_corpus, keep=1)
    record = {"input_sha256": catalog.corpus_hash(corpus), "queries": catalog.QUERIES}
    oracle_dir = os.path.join(corpus, "oracle")
    os.makedirs(oracle_dir, exist_ok=True)
    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    events_rows = con.execute("SELECT count(*) FROM events").fetchone()[0]
    loop = Run(seconds)

    def one_pass(trace):
        out = fresh(os.path.join(WORK, "out", "catalog"))
        res = os.path.join(out, "result.json")
        rc, cpu, rss = env.run(
            ["catalog", corpus, out, "1" if trace else "0", res, ",".join(catalog.QUERIES)],
            os.path.join(WORK, "jvm.log"), seconds, stage_dir=fresh(os.path.join(WORK, "stage")))
        if rc != 0:
            loop.record(None, [launch_failed("catalog pass", rc, seconds)] * len(catalog.QUERIES),
                        attempts=len(catalog.QUERIES))
            return None
        r = load(res)
        errs = []
        for name in catalog.QUERIES:
            q = r["queries"][name]
            if q["error"] is not None:
                errs.append(f"{name}: {q['error']}")
            elif q["oracle"] is not None:
                errs.append(catalog.check_query(con, oracle_dir, name, q["oracle"], out))
        r.update(cpu_s=cpu, peak_rss_mb=rss)
        loop.record(r, [e for e in errs if e], attempts=len(catalog.QUERIES))
        return r

    if not traced:
        while loop.more():
            one_pass(False)
        if not loop.samples:
            return loop, {}, record
        s = loop.samples
        kpi_s = median([x["queries"][catalog.KPI_QUERY]["wall_s"] for x in s])
        return loop, e2e(loop, {
            "kpi_s": kpi_s,
            "report_s": median([sum(x["queries"][q]["wall_s"] for q in catalog.REPORT_QUERIES)
                                for x in s]),
            "rows_per_s": events_rows / kpi_s}), record
    base = one_pass(False)
    r = one_pass(True)
    if not (base and r):
        return loop, {}, record
    m = {"cli.session.s": r["session_s"], "trace.overhead_s": r["wall_s"] - base["wall_s"],
         "mem.peak_rss_mb": base["peak_rss_mb"]}
    for s in r["spans"]:
        m[f"{s['name']}.wall_s"] = s["wall_s"]
        m[f"{s['name']}.task_cpu_s"] = s["task_cpu_s"]
        m[f"{s['name']}.shuffle_bytes"] = s["shuffle_write_bytes"]
        m[f"{s['name']}.spill_bytes"] = s["spill_bytes"]
    m["operators.staged_derive_s"] = sum(v for v in r["staged"].values()
                                         if isinstance(v, (int, float)))
    record.update(spans=r["spans"], staged=r["staged"])
    return loop, m, record


WORKLOADS = {"bitacora_deep": bitacora_workload,
             "cli_reference": cli_workload,
             "catalog_cold": catalog_workload}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build.classpath()
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    env = jvm.Env(WORK, cp)
    # the JVM log keeps the latest run only
    open(os.path.join(WORK, "jvm.log"), "w").close()
    t0 = time.time()
    loop, metrics, record = WORKLOADS[a.workload](env, a.seed, a.seconds, bool(a.trace))
    units = per_layer_units() if a.trace else E2E_UNITS
    # every metric is printed; a layer the workload does not run reads 0
    out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
    correct = not loop.failures and loop.attempted > 0 and bool(metrics)
    record.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  started=t0, env=env.stamp(), failures=loop.failures,
                  timeouts=sum(f.startswith("timeout:") for f in loop.failures),
                  attempted=loop.attempted, metrics=metrics)
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    for f in loop.failures:
        print(f if f.startswith("timeout:") else f"failed: {f}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": loop.attempted,
                      "failed": len(loop.failures), "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
