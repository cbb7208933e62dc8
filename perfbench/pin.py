"""Pin the ``kg_transcripts`` output digest for a range of seeds.

    python3 perfbench/pin.py 0 39          # the sizes BENCHMARK.json runs
    python3 perfbench/pin.py 7 7 small     # the seed test_small.py runs

Runs one pass per seed in one JVM with the benchmark's own settings and
writes ``{seed: [triples, digest]}`` for the given size into pinned.json.
Re-pin only together with a change that is meant to alter the KG output.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main(first: int, last: int, size: str = "full") -> None:
    run._environment()
    from workloads import KgTranscripts, clear
    spark = run._session(trace=False)
    path = os.path.join(run.HERE, "pinned.json")
    with open(path, encoding="utf-8") as f:
        pinned = json.load(f)
    table = pinned.setdefault(KgTranscripts.name, {}).setdefault(size, {})
    for seed in range(first, last + 1):
        wl = KgTranscripts(spark, os.path.join(run.WORK, "pin"), seed, size)
        wl.setup()
        clear(wl.work)
        wl.prepare()
        wl.pinned = None
        out = os.path.join(wl.work, "out")
        wl.run_pass(out)
        ok, _ = wl.check(out)
        if not ok:
            raise SystemExit(f"seed {seed}: output fails its invariants")
        (triples, digest), _manifest = wl.seen
        table[str(seed)] = [triples, str(digest)]
        print(seed, table[str(seed)], file=sys.stderr)
    clear(os.path.join(run.WORK, "pin"))
    run._stop(spark)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]), *sys.argv[3:])
