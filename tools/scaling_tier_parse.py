#!/usr/bin/env python3
"""Parse two TimeOp logs (32-core and 8-core, same ops/tier) into the
committed tier-scaling artifact. Ratio = t_8core_min / t_32core_min:
~1 means the op is scheduling/serial-bound at this tier; toward 4 means
it uses the extra cores (4x core ratio). Stamps git SHA + load like
every other round-14+ artifact."""
import json, re, subprocess, sys

def parse(path):
    out = {}
    rx = re.compile(r"\[timeop\] (\S+) rows=(\d+) times=\[([^\]]+)\] min=([0-9.]+) load1=([0-9.]+)")
    for line in open(path):
        m = rx.search(line)
        if m:
            out[m.group(1)] = {
                "rows": int(m.group(2)),
                "times": [float(x) for x in re.split(r",\s*", m.group(3))],
                "min": float(m.group(4)),
                "load1": float(m.group(5)),
            }
    return out

def main(log32, log8, outpath):
    a, b = parse(log32), parse(log8)
    sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                         text=True).stdout.strip()
    dirty = bool(subprocess.run(["git", "status", "--porcelain"],
                                capture_output=True, text=True).stdout.strip())
    ops = {}
    for k in sorted(set(a) & set(b)):
        # a 0.0 32-core min (sub-resolution op) has no meaningful ratio
        if a[k]["min"] > 0:
            ratio = round(b[k]["min"] / a[k]["min"], 2)
        else:
            ratio = None
            print(f"{k}: 32-core min is 0, ratio_8v32 written as null",
                  file=sys.stderr)
        ops[k] = {
            "t32_min": a[k]["min"], "t8_min": b[k]["min"],
            "t32_runs": a[k]["times"], "t8_runs": b[k]["times"],
            "ratio_8v32": ratio,
            "rows": a[k]["rows"],
            "rows_match": a[k]["rows"] == b[k]["rows"],
        }
    art = {
        "what": "tier160 wall time at SPARK_GRAFT_CPUS=32 vs 8 (TimeOp "
                "min-of-3 after warm; ratio t8/t32, cores ratio 4x)",
        "git_sha": sha, "git_dirty": dirty,
        "tier": "target/tier160", "ops": ops,
    }
    with open(outpath, "w") as f:
        json.dump(art, f, indent=1)
    print(f"wrote {outpath}: " +
          ", ".join(f"{k}={v['ratio_8v32']}" for k, v in ops.items()))

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3])
