#!/usr/bin/env python3
"""Per-query Janino compile table from Bench detail JSONs.

Bench's detail JSON carries `compiles` and `compile_ms` for each query as
[cold, warm1, warm2, warm3]. Given one detail file per codegen-cache size,
this writes a markdown table of the second and third warm passes side by
side (plus the cold count of the last file, and warm-3 compile ms):

    python3 tools/compile_table.py OUT.md 100=bench_c100.json 4096=bench_c4096.json
"""
import json
import sys


def main():
    out, runs = sys.argv[1], [a.split("=", 1) for a in sys.argv[2:]]
    data = [(size, json.load(open(path))) for size, path in runs]
    names = sorted(data[0][1]["compiles"])
    last = data[-1][1]
    hdr = (["query", f"cold@{data[-1][0]}"]
           + [f"w{p}@{s}" for s, _ in data for p in (2, 3)]
           + [f"w3 ms@{s}" for s, _ in data])
    rows = [[n, str(last["compiles"][n][0])]
            + [str(d["compiles"][n][p]) for _, d in data for p in (2, 3)]
            + [f'{d["compile_ms"][n][3]:.0f}' for _, d in data]
            for n in names]
    total = (["**total**", str(sum(last["compiles"][n][0] for n in names))]
             + [str(sum(d["compiles"][n][p] for n in names)) for _, d in data for p in (2, 3)]
             + [f'{sum(d["compile_ms"][n][3] for n in names):.0f}' for _, d in data])
    zero = (["**queries at 0**", ""]
            + [str(sum(d["compiles"][n][p] == 0 for n in names)) for _, d in data for p in (2, 3)]
            + [""] * len(data))
    with open(out, "w") as f:
        f.write("| " + " | ".join(hdr) + " |\n|" + "---|" * len(hdr) + "\n")
        for r in [total, zero] + rows:
            f.write("| " + " | ".join(r) + " |\n")


if __name__ == "__main__":
    main()
