#!/usr/bin/env python3
"""Records the expected output digest of every query a query workload
runs, over the generated tables at the workload's scale factor.

    python3 bench/record_digests.py

Runs each workload's query list twice, in fresh JVMs and in different
orders, and keeps a query's hash only if both runs agree on it; a query
whose rows are the same but whose values are not bit-stable records its
row count only. Record from a build whose Verify dumps pass
tools/check.py against DuckDB on the same tables.
"""
import json
import os
import random
import shutil
import time

import run

ORDERS = 2


def main():
    classpath, _ = run.build()
    cpus, _, heap_g = run.host_sizing()
    seen = {}
    for queries, sf in run.QUERY_WORKLOADS.values():
        data = run.tables(sf)
        for k in range(ORDERS):
            order = list(queries)
            random.Random(k).shuffle(order)
            work = os.path.join(run.BUILD, "runs", f"record-{k}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            raw = run.run_jvm(classpath, {
                "workload": "record", "queries": order, "warmup_queries": [],
                "data_dir": data, "work_dir": work,
                "trace": False, "setup_t0_ns": time.time_ns()},
                work, cpus, heap_g)
            for o in raw["ops"]:
                if "error" in o:
                    raise SystemExit(f"{o['name']} failed: {o['error']}")
                seen.setdefault((f"sf{sf}", o["name"]), []).append(
                    (o["count"], o["hash"], o["wall_s"]))
    recorded = {}
    for (sf, name), runs in sorted(seen.items()):
        counts = {c for c, _, _ in runs}
        hashes = {h for _, h, _ in runs}
        if len(counts) != 1:
            raise SystemExit(f"{name}: row count differs between runs: {counts}")
        want = {"count": counts.pop(), "hash": hashes.pop() if len(hashes) == 1 else None}
        recorded.setdefault(sf, {})[name] = want
        print(f"{sf} {name:32s} rows={want['count']:<8d} stable={want['hash'] is not None} "
              f"wall={' '.join(f'{w:.2f}' for _, _, w in runs)}")
    with open(os.path.join(run.HERE, "expected_digests.json"), "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
