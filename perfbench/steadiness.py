#!/usr/bin/env python3
"""Steadiness evidence for the benchmark.

    python3 perfbench/steadiness.py run --label A --seeds 1-10 [--workloads serve_dashboard]
    python3 perfbench/steadiness.py report > perfbench/STEADINESS.md

`run` runs every workload once per seed, untraced, then once traced,
and appends each result to perfbench/steadiness/runs.jsonl. `report`
reads that file and prints, per workload and end-to-end metric, each
label's median, quartiles and spread (IQR / median, quartiles as
statistics.quantiles(n=4) gives them), how far the second label's
median moved from the first against the metric's bound, the warm-up
evidence, the inputs' content hashes, host health, and the traced
runs' layers with the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, "steadiness", "runs.jsonl")
DROPPED = os.path.join(HERE, "steadiness", "runs_batch_rawlog.jsonl")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(["python3", "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
           "wall_s": round(time.time() - t0, 2)}
    lines = p.stdout.strip().splitlines()
    if p.returncode == 0 and len(lines) >= 2:
        rec["info"] = json.loads(lines[-2])
        rec["result"] = json.loads(lines[-1])
    return rec


def run(args):
    b = bench()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    os.makedirs(os.path.dirname(RUNS), exist_ok=True)
    names = [w["name"] for w in b["workloads"]
             if not args.workloads or w["name"] in args.workloads.split(",")]
    plan = [(w, s, 0) for s in range(lo, hi + 1) for w in names]
    plan += [(w, lo, 1) for w in names]
    for workload, seed, trace in plan:
        rec = one(workload, seed, b["run_seconds"], trace)
        rec["label"] = args.label
        with open(RUNS, "a") as fh:
            fh.write(json.dumps(rec, sort_keys=True) + "\n")
        print(workload, seed, trace, rec["rc"], rec["wall_s"], file=sys.stderr)


def spread(v):
    q = statistics.quantiles(v, n=4)
    return statistics.median(v), q[0], q[2], (q[2] - q[0]) / statistics.median(v)


def fmt(x):
    return "%.4g" % x


def by_index(seqs):
    n = min(len(s) for s in seqs)
    return [statistics.median(s[i] for s in seqs) for i in range(n)]


def setup_line(infos, what):
    reps = by_index([i["setup_reps_s"] for i in infos])
    warm = infos[0]["setup_warmup_reps"]
    return ("Set-up: %d repetitions of %s; median wall by repetition (s): "
            "%s. The first %d are warm-up; `setup_s` is the session build "
            "plus the median of the rest." % (
                len(reps), what, ", ".join("%.2f" % x for x in reps), warm))


def report(args):
    b = bench()
    out = ["# Steadiness evidence", "",
           "Generated by `python3 perfbench/steadiness.py report` from "
           "`perfbench/steadiness/runs.jsonl` (4-core VM, shared host). "
           "Each label is an independent set of untraced runs of the same "
           "code, one run per seed and workload, `--seconds %d`. Spread is "
           "(Q3 - Q1) / median; shift is how much worse the last label's "
           "median is than the first's, as a share of the first's "
           "(negative: better). Label 0 holds stream_scored runs only: an "
           "earlier set of the same stream_scored code, made in a quieter "
           "host window before serve_dashboard's sizes were last changed, "
           "so it has no serve_dashboard runs. Sets A and B ran while the "
           "host withheld CPU from most runs (see each Health line)." % b["run_seconds"], ""]
    out += sections(b, b["workloads"], [json.loads(l) for l in open(RUNS)])
    if os.path.isfile(DROPPED):
        out += ["# Dropped workload: batch_rawlog", "",
                "An earlier version of this benchmark also gated a "
                "`batch_rawlog` workload (one op: raw log → "
                "`BatchPipeline.run` → features and sessions written → "
                "`trainLR`, 5 000 blocks, 2 warm-up and 3 measured ops). "
                "Its runs are in `perfbench/steadiness/%s`. Its op wall "
                "spread reached 0.279 in the second set, above the 0.25 "
                "bound, so it is not gated; the same batch op now builds "
                "serve_dashboard's store in set-up." % os.path.basename(DROPPED), ""]
        out += sections(b, [{"name": "batch_rawlog", "why": "(dropped)"}],
                        [json.loads(l) for l in open(DROPPED)])
    print("\n".join(out))


def sections(b, workloads, recs):
    labels = sorted({r["label"] for r in recs})
    out = []
    for w in workloads:
        name = w["name"]
        rs = {l: [r for r in recs if r["workload"] == name and r["label"] == l
                  and r["trace"] == 0] for l in labels}
        ok = {l: [r for r in v if r["rc"] == 0] for l, v in rs.items()}
        out += ["## %s" % name, "", w["why"], ""]
        out.append("| metric | bound | " + " | ".join(
            "%s median [Q1, Q3] spread (n)" % l for l in labels) + " | shift |")
        out.append("|---|---|" + "---|" * len(labels) + "---|")
        for m in b["end_to_end"]:
            cells, meds = [], []
            for l in labels:
                v = [r["result"]["metrics"][m["name"]]["value"] for r in ok[l]]
                if len(v) < 2:
                    cells.append("n/a")
                    continue
                med, q1, q3, sp = spread(v)
                meds.append(med)
                cells.append("%s [%s, %s] %.3f (%d)" % (fmt(med), fmt(q1), fmt(q3), sp, len(v)))
            shift = "n/a"
            if len(meds) >= 2:
                s = (meds[-1] - meds[0]) / meds[0]
                shift = "%+.3f" % (s if m["better"] == "lower" else -s)
            out.append("| %s (%s) | %.2f | %s | %s |" % (
                m["name"], m["unit"], m["bound"], " | ".join(cells), shift))
        out.append("")
        allok = [r for l in labels for r in ok[l]]
        failed = sum(r["result"]["failed"] for r in allok)
        attempted = sum(r["result"]["attempted"] for r in allok)
        walls = [r["wall_s"] for l in labels for r in rs[l]]
        out.append("Runs: %d, exit 0: %d, all correct: %s, failed ops: %d of %d. "
                   "Run wall: median %.1f s, max %.1f s." % (
                       sum(len(v) for v in rs.values()), len(allok),
                       all(r["result"]["correct"] for r in allok), failed,
                       attempted, statistics.median(walls), max(walls)))
        out.append("")
        infos = [r["info"] for r in allok]
        if name == "batch_rawlog":
            seqs = [i["warmup_walls_ms"] + i["walls_ms"] for i in infos]
            out.append("Warm-up: %d ops excluded. Median op wall by op index "
                       "(ms; warm-up ops first): %s." % (
                           infos[0]["warmup_ops"],
                           ", ".join("%.0f" % x for x in by_index(seqs))))
        elif name == "stream_scored":
            seqs = [i["batch_walls_ms"] for i in infos]
            out.append(setup_line(infos, "Templates.load + start the query + "
                                  "its first micro-batch"))
            out.append("Warm-up: the first micro-batch (priming) runs in "
                       "set-up; messages due in the first %.0f s are excluded. "
                       "Median micro-batch wall by batch index (ms): %s. "
                       "Median fresh_p50 %.0f ms, fresh_p95 %.0f ms "
                       "(%d gated messages per run)." % (
                           infos[0]["warmup_s"],
                           ", ".join("%.0f" % x for x in by_index(seqs)),
                           statistics.median(i["fresh_p50_ms"] for i in infos),
                           statistics.median(i["fresh_p95_ms"] for i in infos
                                             if i["fresh_p95_ms"] is not None),
                           infos[0]["gated_messages"]))
        else:
            out.append(setup_line(infos, "batch view build + score + store seed") +
                       " LR iterations per build: %s." %
                       sorted({n for i in infos for n in i["lr_iterations"]}))
            ups = by_index([i["warmup_upsert_ms"] + i["upsert_ms"] for i in infos])
            reads = by_index([i["warmup_read_ms"] + i["read_ms"] for i in infos])
            out.append("Warm-up: %d ticks excluded. Median upsert wall by tick "
                       "(ms; warm-up ticks first): %s. Median read wall by "
                       "read index in threes (ms; %d warm-up reads first): %s. "
                       "Per run: %d upserts of %d rows onto a %d-row store, "
                       "%d reads; median upsert_p50 %.0f ms, latest_p50 %.0f ms. "
                       "Read kinds checked in every run: %s." % (
                           infos[0]["warmup_ticks"],
                           ", ".join("%.0f" % x for x in ups),
                           len(infos[0]["warmup_read_ms"]),
                           ", ".join("%.0f" % statistics.median(reads[k:k + 3])
                                     for k in range(0, len(reads) - 2, 3)),
                           infos[0]["upserts"], infos[0]["upsert_rows"],
                           infos[0]["seed_rows"], infos[0]["reads"],
                           statistics.median(i["upsert_p50_ms"] for i in infos),
                           statistics.median(i["latest_p50_ms"] for i in infos),
                           ", ".join(sorted(set.intersection(
                               *(set(i["checked_kinds"]) for i in infos))))))
            scaling = [p for r in recs if r["workload"] == name and r["trace"] == 1
                       and r["rc"] == 0 for p in [r["info"]["upsert_ms_by_store_rows"]]]
            if scaling:
                out.append("")
                out.append("Upsert cost grows with store size (traced runs: the "
                           "same %d-row upsert, median of 3, onto stores seeded "
                           "with that many rows): %s." % (
                               infos[0]["upsert_rows"], "; ".join(
                                   "run %d: " % (k + 1) + ", ".join(
                                       "%d rows %.0f ms" % (n, ms) for n, ms in p)
                                   for k, p in enumerate(scaling))))
        out.append("")
        hashes = {}
        hashed = allok + [r for r in recs if r["workload"] == name
                          and r["trace"] == 1 and r["rc"] == 0]
        for r in hashed:
            h = json.dumps(r["info"]["input"].get("sha256") or
                           [r["info"]["input"].get(k) for k in sorted(r["info"]["input"])
                            if k.endswith("sha256")])
            hashes.setdefault(r["seed"], set()).add(h)
        repeated = [s for s in hashes if sum(1 for r in hashed if r["seed"] == s) > 1]
        differ = sorted({k for s in repeated for r in hashed if r["seed"] == s
                         for k, v in r["info"]["input"].items() if k.endswith("sha256")
                         and any(q["info"]["input"][k] != v for q in hashed
                                 if q["seed"] == s)})
        out.append("Inputs: %d seeds; %d seeds ran more than once (the traced "
                   "runs repeat a seed), and their input hashes %s." % (
                       len(hashes), len(repeated),
                       "DIFFER in %s" % ", ".join(differ) if differ else "all agree"))
        if "history_sha256" in differ:
            out.append("The history fixture's rows are identical across "
                       "generations (checked column by column for seed 11); "
                       "its parquet footer is not, because the writer lists "
                       "each column's encodings from a hash set in no fixed "
                       "order. The byte hash therefore does not show "
                       "reproducibility for this input.")
        stolen = sorted((r["label"], r["seed"], r["info"]["steal_s"]) for r in allok
                        if r["info"]["steal_s"] > 2.0)
        out.append("Health: sentinel median %.1f ms, steal median %.2f s per run. "
                   "Runs with more than 2 s of host steal in the measured "
                   "window: %s." % (
                       statistics.median(statistics.median(i["sentinel_ms"]) for i in infos),
                       statistics.median(i["steal_s"] for i in infos),
                       ", ".join("%s seed %d (%.1f s)" % x for x in stolen) or "none"))
        out.append("")
        traced = [r for r in recs if r["workload"] == name and r["trace"] == 1 and r["rc"] == 0]
        if traced:
            lat = statistics.median(r["result"]["metrics"]["latency_ms"]["value"]
                                    for r in allok)
            out.append("Traced runs (%d): per-layer metrics of the last one; "
                       "tracing overhead is its latency against the untraced "
                       "median." % len(traced))
            out.append("")
            t = traced[-1]["result"]["metrics"]
            tl = t["trace.latency_ms"]["value"]
            out.append("- trace.latency_ms %.1f vs untraced median %.1f: %+.1f%%; "
                       "time inside tracing code: %.3f%% of the measured window" % (
                           tl, lat, 100 * (tl - lat) / lat, t["trace.overhead_pct"]["value"]))
            out.append("- " + ", ".join("%s %s %s" % (k, fmt(v["value"]), v["unit"])
                                        for k, v in t.items()
                                        if v["value"] and not k.startswith("trace.")))
            out.append("")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--label", required=True)
    r.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    r.add_argument("--workloads", help="comma-separated subset; default all")
    sub.add_parser("report")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else report(a)


if __name__ == "__main__":
    main()
