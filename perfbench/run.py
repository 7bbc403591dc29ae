"""Benchmark of the semantic-search serving stack and its batch queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py) on first use, runs the
named workload in one JVM (graftbench.Main), reduces its raw record, prints
every metric by name and unit, and ends with one JSON line:
{"correct": .., "attempted": .., "failed": .., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Workload settings live in
perfbench/workloads.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
from stats import INF, closed_rate, nearest_rank, open_loop_health, self_times, tail  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
JVM_LIMIT_S = 170


def l3_bytes():
    """Last-level cache size, for the working-set property; 0 if unknown."""
    try:
        out = subprocess.run(["getconf", "LEVEL3_CACHE_SIZE"], capture_output=True,
                             text=True, timeout=10).stdout.strip()
        return int(out) if out.isdigit() else 0
    except (OSError, subprocess.SubprocessError):
        return 0


def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def run_jvm(build_dir, wl, conf, args, work):
    out = work / "raw.json"
    cmd = build.jvm(build_dir, *build.cds_flag(build_dir)) + [
        "--workload", wl, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--conf", json.dumps(conf),
        "--work", str(work), "--out", str(out)]
    log = work / "jvm.log"
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not out.is_file():
        sys.stderr.write(log.read_text()[-6000:])
        die(f"JVM run failed ({code})")
    return json.loads(out.read_text())


# ------------------------------------------------------------- reduction

def latencies(ph, tag=None):
    """Per-request latency (ms) from the scheduled send; a failed or
    unfinished request counts as infinitely slow."""
    out = []
    for j in range(ph["sent"]):
        if tag is not None and ph["tag"][j] != tag:
            continue
        end = ph["end_ms"][j]
        out.append(end - ph["sched_ms"][j] if ph["ok"][j] and end >= 0 else INF)
    return out


def merged(raw, name):
    """The phases called `name`, as one: their requests in order, each
    with its id and timed against its own phase's start."""
    ps = [p for p in raw["phases"] if p["name"] == name]
    m = {"name": name, "segments": ps, "sent": sum(p["sent"] for p in ps),
         "ids": [p["first"] + j for p in ps for j in range(p["sent"])]}
    for k in ("sched_ms", "disp_ms", "start_ms", "end_ms", "ok", "tag"):
        m[k] = [x for p in ps for x in p[k][:p["sent"]]]
    return m


def phases_by_name(raw):
    return {n: merged(raw, n) for n in dict.fromkeys(p["name"] for p in raw["phases"])}


def ok_rate(ph):
    """Successful requests per second over the closed-loop phase's segments."""
    return closed_rate([([(p["start_ms"][j], p["end_ms"][j]) for j in range(p["sent"])
                          if p["ok"][j] and p["end_ms"][j] >= 0], p["window_ms"])
                        for p in ph["segments"]])


def end_to_end(raw, conf):
    ph = phases_by_name(raw)
    lat_phase = ph.get("open") or ph["sequential"]
    lat = latencies(lat_phase)
    if conf["kind"] == "batch":
        # one sample per query: its median over the sequential passes
        per_q = {}
        for j, x in enumerate(lat):
            per_q.setdefault(lat_phase["tag"][j], []).append(x)
        lat = [statistics.median(v) for v in per_q.values()]
    p99, pct, n = tail(lat)
    m = {
        "setup_s": (raw["setup_process_s"], "s"),
        "heap_mb": (raw["heap_mb"], "MB"),
        "p50_ms": (nearest_rank(lat, 50), "ms"),
        "p99_ms": (p99, "ms"),
    }
    notes = [f"p99_ms is the p{pct:g} of {n} samples ({lat_phase['name']} phase"
             + (", per-query medians)" if conf["kind"] == "batch" else ")")]
    if "closed" in ph:
        m["peak_rps"] = (ok_rate(ph["closed"]), "1/s")
        notes.append(f"peak_rps from {ph['closed']['sent']} requests of {raw['threads']} "
                     f"closed-loop clients in {len(ph['closed']['segments'])} segments")
    kind = conf["kind"]
    if "fallback" in ph:
        v, p, k = tail(latencies(lat_phase, 0))
        fb = latencies(ph["fallback"])
        m["covered_p99_ms"] = (v, "ms")
        m["fallback_p50_ms"] = (nearest_rank(fb, 50), "ms")
        notes.append(f"covered_p99_ms is the p{p:g} of {k}; fallback_p50_ms of {len(fb)} "
                     "uncovered requests sent one at a time after the measured window")
    if kind == "batch":
        q = len(conf["queries"])
        seq = ph["sequential"]
        passes = [seq["end_ms"][i + q - 1] - seq["start_ms"][i]
                  for i in range(0, seq["sent"] - q + 1, q)]
        m["batch_s"] = (statistics.median(passes) / 1000.0, "s")
        notes.append(f"batch_s is the median of {len(passes)} passes over {q} queries")
    return m, notes


def per_layer(raw, conf, batch_queries):
    spans = raw.get("spans", [])
    by_id = {s[0]: s for s in spans}
    ms = {s[0]: (s[5] - s[4]) / 1e6 for s in spans}
    names = {}
    for s in spans:
        names.setdefault(s[3], []).append(s)
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s[0])
    selfs = {k: v / 1e6 for k, v in self_times([(s[0], s[1], s[4], s[5]) for s in spans]).items()}
    layer = raw["layer"]
    sp = layer.get("spark", {})
    jobs = sp.get("jobs", [])

    def dur(name):
        return [ms[s[0]] for s in names.get(name, [])]

    def p(vals, q):
        return nearest_rank(vals, q) if vals else 0.0

    def has_child(sid, name):
        return any(by_id[k][3] == name for k in kids.get(sid, []))

    doors = names.get("api.door", [])
    door_self = [selfs[s[0]] for s in doors]
    covered = [s for s in doors if has_child(s[0], "serve.topk")]
    caches = names.get("api.cache", [])
    hit_wait = [ms[s[0]] for s in caches if not has_child(s[0], "api.cache.compute")]
    fallbacks = len(doors) - len(covered)
    props = raw["props"]
    folds = layer.get("serve.delta.fold_ms", [])
    sizes = layer.get("serve.delta.sizes", [])
    cands = props.get("mean_candidates", 0.0)
    per_cand = props.get("results_per_candidate", 0.0)
    m = {
        "api.door.calls": len(doors),
        "api.door.self_ms.p50": p(door_self, 50),
        "api.door.self_ms.p99": tail(door_self)[0] if door_self else 0.0,
        "api.route.covered": len(covered),
        "api.route.fallback": fallbacks,
        "api.cache.hits": layer.get("api.cache.hits", 0),
        "api.cache.misses": layer.get("api.cache.misses", 0),
        "api.cache.hit_wait_ms.p50": p(hit_wait, 50),
        "api.cache.hit_wait_ms.p99": tail(hit_wait)[0] if hit_wait else 0.0,
        "api.index_build_s": layer.get("api.index_build_s", 0.0),
        "embed.calls": len(names.get("embed", [])),
        "embed.ms.p50": p(dur("embed"), 50),
        "embed.ms.p99": tail(dur("embed"))[0] if dur("embed") else 0.0,
        "serve.load_s": layer.get("serve.load_s", 0.0),
        "serve.parse_ms.p50": p(dur("serve.parse"), 50),
        "serve.topk.calls": len(names.get("serve.topk", [])),
        "serve.topk_ms.p50": p(dur("serve.topk"), 50),
        "serve.topk_ms.p99": tail(dur("serve.topk"))[0] if dur("serve.topk") else 0.0,
        "serve.candidates_per_request": cands,
        "serve.results_per_candidate": per_cand,
        "serve.meta.calls": len(names.get("serve.meta", [])),
        "serve.delta.writes": len(names.get("serve.delta.write", [])),
        "serve.delta.write_ms.p50": p(dur("serve.delta.write"), 50),
        "serve.delta.write_ms.p99": tail(dur("serve.delta.write"))[0] if dur("serve.delta.write") else 0.0,
        "serve.delta.folds": layer.get("serve.delta.folds", 0),
        "serve.delta.fold_ms.max": max(folds) if folds else 0.0,
        "serve.delta.size.mean": statistics.mean(sizes) if sizes else 0.0,
        "llm.calls": len(names.get("llm", [])),
        "llm.ms.p50": p(dur("llm"), 50),
        "spark.jobs": len(jobs),
        "spark.stages": sp.get("stages_run", 0),
        "spark.single_task_stages": sp.get("single_task_stages", 0),
        "spark.tasks": sp.get("tasks", 0),
        "spark.job_ms.p50": p([j[1] for j in jobs], 50),
        "spark.job_ms.p99": tail([j[1] for j in jobs])[0] if jobs else 0.0,
        "spark.task_busy_s": sp.get("task_busy_ms", 0) / 1000.0,
        "spark.task_wait_ms.p99": tail(sp.get("task_wait_ms", []))[0] if sp.get("task_wait_ms") else 0.0,
        "spark.shuffle_read_bytes": sp.get("shuffle_read_bytes", 0),
        "spark.shuffle_write_bytes": sp.get("shuffle_write_bytes", 0),
        "spark.spill_bytes": sp.get("spill_bytes", 0),
        "spark.jobs_per_fallback": (sum(1 for j in jobs if j[0].startswith("req-")) / fallbacks
                                    if fallbacks else 0.0),
    }
    m.update(entry_metrics(raw, conf, jobs, batch_queries))
    sent = sum(p_["sent"] for p_ in raw["phases"])
    done = sum(sum(1 for e in p_["end_ms"] if e >= 0) for p_ in raw["phases"])
    lates = [p_["disp_ms"][j] - p_["sched_ms"][j] for p_ in raw["phases"] if "open" in p_["name"]
             for j in range(p_["sent"])]
    m["gen.sent"] = sent
    m["gen.completed"] = done
    m["gen.late_ms.p99"] = nearest_rank(lates, 99) if lates else 0.0
    m["jvm.gc_ms"] = raw["gc_ms"]
    m["jvm.gc_count"] = raw["gc_count"]
    ph = phases_by_name(raw)
    if "open" in ph:
        # every other open-loop request was traced: compare the two halves
        roots = {s[2] for s in spans if s[1] == 0}
        o = ph["open"]
        lat = latencies(o)
        untraced = [x for j, x in enumerate(lat) if o["ids"][j] not in roots]
        traced_ = [x for j, x in enumerate(lat) if o["ids"][j] in roots]
    else:
        untraced, traced_ = latencies(ph["sequential"]), latencies(ph["sequential_traced"])
    b50, t50 = nearest_rank(untraced, 50), nearest_rank(traced_, 50)
    m["trace.overhead_pct"] = (t50 - b50) / b50 * 100.0
    notes = trace_notes(spans, selfs, doors, covered)
    return m, notes


def entry_metrics(raw, conf, jobs, names):
    """SparkEntry layer: build (DataFrame construction, incl. the jobs it
    runs) and exec (the noop write) per listed query, medians over the
    traced passes. Zero on workloads that run no gated query."""
    out = {"entry.build_s": 0.0, "entry.exec_s": 0.0, "entry.build_jobs": 0, "entry.exec_jobs": 0}
    for q in names:
        out[f"entry.{q}.build_s"] = 0.0
        out[f"entry.{q}.exec_s"] = 0.0
    if conf["kind"] != "batch":
        return out
    ph = next(p for p in raw["phases"] if p["name"] == "sequential_traced")
    build_ns = raw["layer"]["entry.build_ns"]
    per = {q: ([], []) for q in names}
    for j in range(ph["sent"]):
        q = names[ph["tag"][j]]
        b = build_ns[ph["first"] + j] / 1e9
        per[q][0].append(b)
        per[q][1].append((ph["end_ms"][j] - ph["start_ms"][j]) / 1000.0 - b)
    passes = max(1, ph["sent"] // len(names))
    for q, (bs, es) in per.items():
        out[f"entry.{q}.build_s"] = statistics.median(bs) if bs else 0.0
        out[f"entry.{q}.exec_s"] = statistics.median(es) if es else 0.0
    out["entry.build_s"] = sum(out[f"entry.{q}.build_s"] for q in names)
    out["entry.exec_s"] = sum(out[f"entry.{q}.exec_s"] for q in names)
    out["entry.build_jobs"] = sum(1 for j in jobs if j[0].startswith("build-")) / passes
    out["entry.exec_jobs"] = sum(1 for j in jobs if j[0].startswith("exec-")) / passes
    return out


def trace_notes(spans, selfs, doors, covered):
    """Per-request self-time accounting: the self times of a request's
    spans add up to its root span when its children nest cleanly."""
    notes = []
    if not doors:
        return notes
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    worst = 0.0
    share = {}
    cov_ids = {s[0] for s in covered}
    for d in doors:
        total, stack = 0.0, [d]
        while stack:
            s = stack.pop()
            total += selfs[s[0]]
            share_key = (s[3], d[0] in cov_ids)
            share[share_key] = share.get(share_key, 0.0) + selfs[s[0]]
            stack.extend(kids.get(s[0], []))
        dur = (d[5] - d[4]) / 1e6
        worst = max(worst, abs(total - dur) / dur if dur else 0.0)
    notes.append(f"self times add up to the door span within {worst * 100:.3f}% on every request")
    for cov in (True, False):
        tot = sum(v for (n, c), v in share.items() if c == cov)
        if tot:
            parts = ", ".join(f"{n} {v / tot * 100:.1f}%" for (n, c), v in sorted(share.items())
                              if c == cov)
            notes.append(f"{'covered' if cov else 'fallback'} request time by layer (self): {parts}")
    return notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("the repository's sources (src/main/scala/graft) are missing")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    confs = json.loads((ROOT / "perfbench" / "workloads.json").read_text())
    if args.workload not in confs["workloads"]:
        die(f"unknown workload {args.workload}")
    conf = confs["workloads"][args.workload]
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    t0 = time.time()
    build.build(build_dir)
    build_s = time.time() - t0
    work = build_dir / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        raw = run_jvm(build_dir, args.workload, conf, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(p["sent"] for p in raw["phases"]) + raw["checked"]
    failed = sum(p["sent"] - sum(p["ok"][:p["sent"]]) for p in raw["phases"]) + raw["check_failed"]
    e2e, notes = end_to_end(raw, conf)
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
          f"trace {args.trace}  threads {raw['threads']}  build {build_s:.1f} s")
    print(f"request stream hash {raw['props']['request_stream_hash']}")
    print(f"set-up: process start to first timed request {raw['setup_process_s']:.2f} s "
          f"(JVM to main {raw['jvm_to_main_s']:.2f} s, Spark session {raw['session_s']:.2f} s)")
    props = dict(raw["props"])
    l3 = l3_bytes()
    if l3 and "vector_bytes" in props:
        props["vector_bytes_per_l3"] = props["vector_bytes"] / l3
    # the cache phase of a traced door_1x run: tag 0 exact repeat,
    # 1 semantic hit, 2 written back
    tags = [t for p in raw["phases"] if p["name"] == "cache" for t in p["tag"][:p["sent"]]]
    if tags:
        for i, k in enumerate(("cache_exact_repeat_share", "cache_semantic_hit_share",
                               "cache_write_share")):
            props[k] = sum(1 for t in tags if t == i) / len(tags)
        props["cache_hit_ratio"] = sum(1 for t in tags if t in (0, 1)) / len(tags)
    lay = raw["layer"]
    if "api.index_build_s" in lay:
        print(f"set-up parts: index build {lay['api.index_build_s']:.2f} s, "
              f"tier load {lay['serve.load_s']:.2f} s")
    print("workload properties: " + ", ".join(f"{k} {v:.4g}" if isinstance(v, float) else f"{k} {v}"
                                              for k, v in props.items()))
    for p in raw["phases"]:
        ok = sum(p["ok"][:p["sent"]])
        print(f"phase {p['name']}: sent {p['sent']}, succeeded {ok}, failed {p['sent'] - ok}")
    for k, (v, unit) in e2e.items():
        print(f"  {k:<18} {v:.6g} {unit}")
    print(f"  {'fail_ratio':<18} {failed / attempted:.6g} ratio  ({failed} of {attempted})")
    for n in notes:
        print(f"  note: {n}")
    for n in raw["notes"]:
        print(f"  FAILED CHECK: {n}")
    print(f"output check: {'pass' if failed == 0 else 'FAIL'}")
    # a run whose generator fell behind measured a different load: its
    # verdict is false, like a run with a wrong output
    invalid = []
    for k, p in enumerate(p for p in raw["phases"] if p["name"] == "open"):
        late, why = open_loop_health(p, conf["rate"])
        invalid += why
        print(f"open loop segment {k + 1} at {conf['rate']}/s: generator late p99 {late:.3f} ms, "
              + ("INVALID: " + "; ".join(why) if why else "valid"))

    if args.trace == 0:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    else:
        layer, tnotes = per_layer(raw, conf, confs["workloads"]["batch_queries"]["queries"])
        for k, v in layer.items():
            print(f"  {k:<44} {v:.6g}")
        for n in tnotes:
            print(f"  note: {n}")
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    print(json.dumps({"correct": failed == 0 and not invalid, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
