#!/usr/bin/env python3
"""Calibration-normalized cross-round bench comparison (VERDICT r9 #2).

Cross-round BENCH totals on this shared container are only comparable at
matched host speed: round 9 measured the same plans ~1.4x slower than the
round-8 driver sweep purely from host contention (~20 effective cores of
32), and compounded raw ratios would trip the 2x gate on measurement
drift alone.  Bench emits `calib_mt_sec` — a fixed integer workload timed
at the sweep's thread count — precisely so totals can be divided by host
speed.  This tool reads two bench JSON lines (BENCH_r*.json driver files,
which wrap the line under a "tail"/"parsed" envelope, or a raw
/tmp/bench.json) and prints per-query and total ratios both raw and
calibration-normalized.  Rounds before r9 carry no calibration; their
ratios print as raw-only with a loud note.

Usage: tools/bench_compare.py <benchA.json> <benchB.json> [--top N]
Ratios are B/A (A = baseline).
"""
import json
import re
import sys


def load(path):
    """Return the bench dict from either a raw Bench JSON line or a driver
    BENCH_r*.json envelope ({n, rc, cpus, sf, tail, parsed})."""
    with open(path) as f:
        txt = f.read()
    d = json.loads(txt)
    if "queries" in d:
        return d
    if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
        return d["parsed"]
    # driver envelope: the full line (or its suffix) is in "tail" — find the
    # last complete {"metric":...} object we can parse, else rebuild from
    # the trailer + whatever query fragments the tail retains
    tail = d.get("tail", "")
    for m in re.finditer(r'\{"metric":"total".*', tail):
        try:
            return json.loads(m.group(0).splitlines()[0])
        except json.JSONDecodeError:
            continue
    # fragment fallback: per-query "name":sec pairs + trailer metrics
    qs = {k: float(v) for k, v in
          re.findall(r'"(q[0-9]+[a-z0-9_]*)":([0-9.]+)', tail)}
    out = {"queries": qs}
    trailer = re.search(r'\{"metric":"total_trailer".*?\}', tail)
    if trailer:
        try:
            out.update(json.loads(trailer.group(0)))
        except json.JSONDecodeError:
            pass
    if not qs and "value" not in out:
        sys.exit(f"{path}: no parseable bench line")
    return out


def fmt_ratio(r):
    return f"{r:7.2f}x" if r is not None else "      --"


def main():
    argv = sys.argv[1:]
    top = 15
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    args = argv
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = load(args[0]), load(args[1])
    qa, qb = a.get("queries", {}), b.get("queries", {})
    ca, cb = a.get("calib_mt_sec"), b.get("calib_mt_sec")
    host = (cb / ca) if (ca and cb) else None
    # per-class host factors. Preference per class (r15+, mirrors
    # Bench.vsPrevJson): 1. control-query factor — B's in-run control
    # median over A's (ctl_<cls>_sec trailer/ctl fields), or over A's
    # query-map entry for the same pinned query when A predates the ctl
    # fields; 2. shuffle/scan synthetic probe ratio (r14); 3. the
    # integer-CPU factor. Controls are sweep queries sampled at sweep
    # start/middle/end — the instant probes swung 1.77x within one r14
    # sweep while a control stayed flat.
    CONTROL_QUERIES = {"cpu": "q68_native_pivot",
                       "shuffle": "q67_simhash_pairs",
                       "scan": "q85_decontaminate",
                       "lifecycle": "q257_agg_state"}

    def ctl_med(side, cls):
        v = side.get(f"ctl_{cls}_sec")
        if v:
            return v
        nested = side.get("ctl")
        if isinstance(nested, dict) and isinstance(nested.get(cls), dict):
            return nested[cls].get("sec")
        return None

    def ctl_factor(cls):
        # same-context discipline (mirrors Bench.vsPrevJson): pack-min vs
        # pack-min when both rounds carry ctl fields; else the pinned
        # query's sweep timing on BOTH sides (never pack-vs-sweep — packs
        # measure 16-35% slower than the same query in-sweep)
        cb, ca_ = ctl_med(b, cls), ctl_med(a, cls)
        if cb and ca_:
            return cb / ca_
        name = CONTROL_QUERIES[cls]
        if qa.get(name) and qb.get(name):
            return qb[name] / qa[name]
        return None

    def probe(name):
        pa, pb = a.get(name), b.get(name)
        return (pb / pa) if (pa and pb) else None
    class_host = {
        "shuffle": ctl_factor("shuffle") or probe("calib_shuffle_sec") or host,
        "scan": ctl_factor("scan") or probe("calib_scan_sec") or host,
        "lifecycle": ctl_factor("lifecycle") or host,
        "cpu": ctl_factor("cpu") or host}
    classes = {}
    for side in (a, b):
        qd = side.get("qdiag")
        if isinstance(qd, dict):
            for q, d in qd.items():
                if isinstance(d, dict) and "cls" in d:
                    classes[q] = d["cls"]
    def cls_factor(q):
        return class_host.get(classes.get(q, "cpu"))

    common = sorted(set(qa) & set(qb))
    print(f"A={args[0]}  B={args[1]}")
    print(f"common queries: {len(common)}  (A-only {len(set(qa)-set(qb))}, "
          f"B-only {len(set(qb)-set(qa))})")
    if host:
        print(f"host factor (calib_mt B/A): {host:.3f} — normalized = raw / host")
    else:
        print("NOTE: calibration missing on one side — raw ratios only; "
              "host drift is NOT separable from engine change")

    ta = a.get("value", sum(qa.values()) if qa else None)
    tb = b.get("value", sum(qb.values()) if qb else None)
    if ta and tb:
        raw = tb / ta
        print(f"\ntotal: {ta:.1f}s -> {tb:.1f}s  raw {fmt_ratio(raw)}"
              + (f"  normalized {fmt_ratio(raw / host)}" if host else ""))
    cta = sum(qa[q] for q in common)
    ctb = sum(qb[q] for q in common)
    if common:
        raw = ctb / cta
        print(f"common-query total: {cta:.1f}s -> {ctb:.1f}s  raw {fmt_ratio(raw)}"
              + (f"  normalized {fmt_ratio(raw / host)}" if host else ""))
        rs = sorted((qb[q] / qa[q] for q in common if qa[q] > 0))
        med = rs[len(rs) // 2]
        print(f"per-query median ratio: raw {fmt_ratio(med)}"
              + (f"  normalized {fmt_ratio(med / host)}" if host else ""))

        if classes and host:
            parts = []
            for c in ("cpu", "shuffle", "scan", "lifecycle"):
                f = class_host.get(c)
                src = ("ctl" if ctl_factor(c) else
                       "probe" if c in ("shuffle", "scan")
                       and probe(f"calib_{c}_sec") else "cpu-fallback")
                parts.append(f"{c} {f:.3f}({src})" if f else f"{c} --")
            print("class host factors: " + "  ".join(parts))
            for c in ("cpu", "shuffle", "scan", "lifecycle"):
                s = b.get(f"ctl_{c}_spread")
                if s is None and isinstance(b.get("ctl"), dict) \
                        and isinstance(b["ctl"].get(c), dict):
                    s = b["ctl"][c].get("spread")
                if s is not None:
                    print(f"  ctl spread {c}: {s:.3f} "
                          f"(in-run start/mid/end error bar)")
            bycls = {}
            for q in common:
                if qa[q] > 0:
                    bycls.setdefault(classes.get(q, "cpu"), []).append(qb[q] / qa[q])
            for c in sorted(bycls):
                cr = sorted(bycls[c])
                cm = cr[len(cr) // 2]
                f = class_host.get(c)
                print(f"  class {c:7s} n={len(cr):3d}  median raw {fmt_ratio(cm)}"
                      + (f"  classnorm {fmt_ratio(cm / f)}" if f else ""))
            crs = sorted((qb[q] / qa[q]) / cls_factor(q)
                         for q in common if qa[q] > 0 and cls_factor(q))
            if crs:
                print(f"per-query median ratio, class-normalized: "
                      f"{fmt_ratio(crs[len(crs) // 2])}")
            num = sum(qb[q] / cls_factor(q) for q in common
                      if qa[q] > 0 and cls_factor(q))
            den = sum(qa[q] for q in common if qa[q] > 0 and cls_factor(q))
            if den:
                print(f"common-query total, class-normalized: {fmt_ratio(num / den)}")

        print(f"\ntop {top} movers (by raw ratio, >=0.2s on either side):")
        movers = [(qb[q] / qa[q], q) for q in common
                  if qa[q] > 0 and max(qa[q], qb[q]) >= 0.2]
        movers.sort(reverse=True)
        for r, q in movers[:top]:
            norm = f"  norm {fmt_ratio(r / host)}" if host else ""
            print(f"  {q:32s} {qa[q]:7.2f}s -> {qb[q]:7.2f}s  raw {fmt_ratio(r)}{norm}")


if __name__ == "__main__":
    main()
