"""Merge N bench sessions into per-query best-of artifacts.

VERDICT r06 item 4 / BASELINE.md noise-floor convention: single-session
per-query timings carry up to 4.5x cross-session spread on sub-2 s
queries, so SCALING.md inputs are the per-query MIN across >= 3
back-to-back sessions on a quiet machine (the min is the best estimate
of plan cost — session drag and GC phase only ever ADD time).

Usage: after each `bench.py` pass per scale factor, stash the artifact
as bench_results_sf{sf}.json.pass{K}, then:

    python tools/merge_bench_sessions.py 0.1 0.01 0.001
"""

from __future__ import annotations

import glob
import json
import sys
import time


def main() -> None:
    for sf in sys.argv[1:]:
        passes = sorted(glob.glob(f"bench_results_sf{sf}.json.pass*"))
        assert len(passes) >= 2, f"need >=2 stashed passes for sf{sf}"
        datas = [json.load(open(p)) for p in passes]
        names = set(datas[0]["queries"])
        for d in datas[1:]:
            assert set(d["queries"]) == names, "query sets differ"
        merged = dict(datas[-1])  # metadata from the last pass
        merged["queries"] = {
            n: round(min(d["queries"][n] for d in datas), 4) for n in names
        }
        merged["value"] = round(sum(merged["queries"].values()), 4)
        # every session's draws, so each best stays the min of its draws
        if all("draws" in d for d in datas):
            merged["draws"] = {n: [x for d in datas for x in d["draws"][n]] for n in names}
        else:
            merged.pop("draws", None)
        merged["n_sessions"] = len(passes)
        merged["timing"] = f"best_of_{merged.get('runs_per_query', 2)}_x_{len(passes)}_sessions"
        ordered = sorted(merged["queries"].values())
        merged["median_sec"] = round(ordered[len(ordered) // 2], 4)
        merged["wall_clock_unix"] = round(time.time(), 1)
        out = f"bench_results_sf{sf}.json"
        with open(out, "w") as fh:
            json.dump(merged, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{out}: {len(passes)} sessions, total {merged['value']}, "
              f"median {merged['median_sec']}")


if __name__ == "__main__":
    main()
