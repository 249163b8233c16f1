#!/usr/bin/env python3
"""Bench regression gate: compare two bench JSONs per query and flag
regressions that nobody annotated.

Usage:
    python3 scripts/bench_compare.py OLD.json NEW.json \
        [--threshold 2.0] [--min-abs 0.5] [--waivers scripts/bench_waivers.txt]

Either side may be a DIRECTORY of sweep JSONs: per-query timings become
the MIN across the sweeps (the multi-run envelope — this host's load
flaps disjoint query sets per sweep, so the envelope is the honest
same-code figure) and the canary becomes the fastest window's. With the
sweeps committed, the envelope is reproducible arithmetic instead of
prose.

Accepts both artifact shapes:
  * a pinned local run: the Bench main's own JSON line
    ({"metric": ..., "queries": {...}, ...});
  * a driver round file (BENCH_rNN.json) whose "tail" embeds (possibly
    truncated) runner output — per-query seconds are regex-scraped, so a
    truncated head still yields the surviving tail queries.

A query REGRESSES when new/old > threshold AND (new - old) > min-abs
seconds (tiny queries flap multiplicatively under host load; sub-second
deltas are noise, not regressions). Waived queries (one per line:
`qname  reason...`) are reported but don't fail the gate — the waiver
file is the paper trail for intentional changes (q58 growing a real
sample decode, etc.). Exit 1 iff any unwaived regression remains, so a
round script can gate on it.
"""
import argparse
import json
import re
import sys


def sweep_files(path):
    """The JSON files a directory-envelope argument expands to."""
    import os
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".json"))


def load_queries(path):
    import os
    if os.path.isdir(path):
        sweeps = [load_queries(p) for p in sweep_files(path)]
        if not sweeps:
            raise SystemExit(f"{path}: no sweep JSONs in directory")
        out = {}
        for s in sweeps:
            for k, v in s.items():
                out[k] = min(out[k], v) if k in out else v
        print(f"{path}: MIN envelope over {len(sweeps)} sweeps")
        return out
    with open(path) as f:
        data = json.load(f)
    if isinstance(data, dict):
        if isinstance(data.get("queries"), dict):
            return {k: float(v) for k, v in data["queries"].items()}
        parsed = data.get("parsed")
        if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
            return {k: float(v) for k, v in parsed["queries"].items()}
        tail = data.get("tail")
        if isinstance(tail, str):
            # scrape whatever per-query pairs survived truncation
            pairs = re.findall(r'"(q\d+[a-z0-9_]*)":\s*([0-9.]+)', tail)
            out = {}
            for k, v in pairs:
                out[k] = float(v)  # last occurrence wins (the final rep)
            if out:
                return out
    raise SystemExit(f"{path}: no per-query timings found")


def load_canary(path):
    """Measured host-speed canary (see graft.HostCanary): returns the
    canary dict or None for pre-round-12 artifacts. For a directory,
    the fastest window's canary (min by sustained-multicore speed) —
    consistent with the MIN-envelope query semantics."""
    import os
    if os.path.isdir(path):
        cs = [c for c in (load_canary(p) for p in sweep_files(path)) if c]
        if not cs:
            return None
        return min(cs, key=lambda c: canary_speed(c) or float("inf"))
    with open(path) as f:
        data = json.load(f)
    if isinstance(data, dict):
        if isinstance(data.get("canary"), dict):
            return data["canary"]
        parsed = data.get("parsed")
        if isinstance(parsed, dict) and isinstance(parsed.get("canary"), dict):
            return parsed["canary"]
        tail = data.get("tail")
        if isinstance(tail, str):
            m = re.search(r'"canary":\s*(\{[^}]*\})', tail)
            if m:
                try:
                    return json.loads(m.group(1))
                except json.JSONDecodeError:
                    return None
    return None


def canary_speed(c, multi=True):
    """One host-speed scalar per artifact: the MEAN of the before/after
    multi-thread canary seconds (the sustained-multicore figure the sf1
    drift moved), falling back to whatever fields exist. multi=False
    reads the single-thread canary only."""
    vals = [c[k] for k in ("mt_before", "mt_after") if k in c] if multi else []
    if not vals:
        vals = [c[k] for k in ("st_before", "st_after") if k in c]
    return sum(vals) / len(vals) if vals else None


def load_waivers(path):
    waivers = {}
    try:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                parts = line.split(None, 1)
                waivers[parts[0]] = parts[1] if len(parts) > 1 else ""
    except FileNotFoundError:
        pass
    return waivers


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=2.0)
    ap.add_argument("--min-abs", type=float, default=0.5)
    ap.add_argument("--waivers", default="scripts/bench_waivers.txt")
    args = ap.parse_args()

    old = load_queries(args.old)
    new = load_queries(args.new)
    waivers = load_waivers(args.waivers)
    common = sorted(set(old) & set(new))
    print(f"comparing {len(common)} common queries "
          f"({len(old)} old, {len(new)} new)")

    # measured host speed: normalize NEW seconds by the canary ratio so a
    # uniformly slower/faster host reads as ~1.0x, not a phantom swing.
    # The GATE still fires on RAW ratios (a waiver decision should see the
    # honest numbers); normalized ratios are the adjudication aid.
    oc, nc = load_canary(args.old), load_canary(args.new)
    host_ratio = None
    if oc and nc:
        # the multi-thread canary runs one kernel per bench-session core
        # (a fixed 32 in artifacts without the field); seconds measured at
        # different widths are not comparable, so fall back to 1 thread
        ot, nt = oc.get("threads", 32), nc.get("threads", 32)
        same = ot == nt
        if not same:
            print(f"FLAG canary thread counts differ (old {ot}, new {nt}): "
                  "normalizing by the single-thread canary")
        os_, ns_ = canary_speed(oc, same), canary_speed(nc, same)
        if os_ and ns_:
            host_ratio = ns_ / os_
            width = f"{nt}-thread" if same else "1-thread"
            print(f"host canary ({width} secs): old {os_:.2f} -> new "
                  f"{ns_:.2f}; host-speed ratio {host_ratio:.2f}x "
                  f"(canary-normalized new = raw / {host_ratio:.2f})")
    if host_ratio is None:
        print("host canary: absent on one side (pre-round-12 artifact); "
              "raw ratios only")

    failed = []
    for q in common:
        o, n = old[q], new[q]
        if o <= 0:
            continue
        ratio = n / o
        if ratio > args.threshold and (n - o) > args.min_abs:
            tag = f"WAIVED ({waivers[q]})" if q in waivers else "REGRESSION"
            norm = f", {ratio / host_ratio:.1f}x canary-normalized" \
                if host_ratio else ""
            print(f"  {tag:<12} {q}: {o:.2f}s -> {n:.2f}s "
                  f"({ratio:.1f}x raw{norm})")
            if q not in waivers:
                failed.append(q)
    tot_o = sum(old[q] for q in common)
    tot_n = sum(new[q] for q in common)
    if tot_o > 0:
        norm = f"; {tot_n / tot_o / host_ratio:.2f}x canary-normalized" \
            if host_ratio else ""
        print(f"common-total {tot_o:.1f}s -> {tot_n:.1f}s "
              f"({tot_n / tot_o:.2f}x raw{norm})")
    improved = sum(1 for q in common if old[q] > 0 and new[q] / old[q] < 0.5
                   and (old[q] - new[q]) > args.min_abs)
    print(f"{len(failed)} unwaived regression(s); {improved} >2x improvement(s)")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
