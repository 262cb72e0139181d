#!/usr/bin/env python3
"""Summarize result files of vbench/run.py as Markdown.

    python3 vbench/report.py vbench/results/*.json > vbench/results/SUMMARY.md

For each workload: the untraced run's end-to-end metrics, latency by
operation kind with each tail's percentile and sample count, set-up
phases and sizes; the traced run's per-layer metrics; the tracing
overhead (traced against untraced ops_per_s); the host evidence.
"""
import json
import sys


def fmt(v):
    return "n/a" if v is None else f"{v:.4g}"


def main(paths):
    runs = {}
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        for r in d["results"]:
            r["host"] = d["host"]
            runs[(r["workload"], bool(r["trace"]))] = (p, r)
    for w in sorted({k[0] for k in runs}):
        print(f"## {w}\n")
        plain, traced = runs.get((w, False)), runs.get((w, True))
        if plain:
            p, r = plain
            print(f"Untraced run `{p}`: seed {r['seed']}, {r['seconds']} s, "
                  f"{r['cores']} cores; correct: {r['correct']}; "
                  f"{r['failed']} of {r['attempted']} operations failed "
                  f"(error_rate {fmt(r['error_rate'])}).\n")
            print("| metric | value | unit |\n|---|---|---|")
            for n, m in sorted(r["end_to_end"].items()):
                print(f"| {n} | {fmt(m['value'])} | {m['unit']} |")
            tail = ("n/a (under 21 samples)" if r.get("tail_ms") is None else
                    f"{fmt(r['tail_ms'])} at p{fmt(r['tail_percentile'])}, 10 samples beyond")
            print(f"| tail_ms (all operations, {r['attempted']} samples) | {tail} | ms |\n")
            print("| operation | samples | p50 ms | tail ms | tail percentile | samples beyond |")
            print("|---|---|---|---|---|---|")
            for k, m in sorted(r["latency_by_kind"].items()):
                print(f"| {k} | {m['attempted']} | {fmt(m['p50_ms'])} | {fmt(m.get('tail_ms'))} | "
                      f"{fmt(m.get('tail_percentile'))} | {m['samples_beyond_tail']} |")
            s = r["setup"]
            print(f"\nSet-up: session {fmt(s['session_s'])} s, table creation "
                  f"{fmt(s['create_s'])} s, history {fmt(s['build_s'])} s, "
                  f"warm-up {fmt(s['warmup_s'])} s.\n")
            print("Sizes: " + ", ".join(f"{k} {v}" for k, v in sorted(r["sizes"].items())) + "\n")
            print(f"Host: `{json.dumps(r['host'], sort_keys=True)}`\n")
        if traced:
            p, t = traced
            print(f"Traced run `{p}`: seed {t['seed']}, correct: {t['correct']}.\n")
            print("| per-layer metric | value | unit |\n|---|---|---|")
            for n, m in sorted(t["per_layer"].items()):
                print(f"| {n} | {fmt(m['value'])} | {m['unit']} |")
            if plain:
                a = plain[1]["end_to_end"]["ops_per_s"]["value"]
                b = t["per_layer"]["trace.ops_per_s"]["value"]
                print(f"\nTracing overhead: traced {fmt(b)} ops/s against untraced {fmt(a)} "
                      f"ops/s, {fmt(100 * (1 - b / a))}% fewer. One pair of runs: a difference "
                      "within the run-to-run spread of ops_per_s (see spread.py) is not "
                      "resolved.\n")


if __name__ == "__main__":
    main(sys.argv[1:])
