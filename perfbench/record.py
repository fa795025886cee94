#!/usr/bin/env python3
"""Record the expected output hashes of the query workloads.

    python3 perfbench/record.py [--twin]

Runs each query workload's queries once on its fixed inputs (for
llm-corpus also t01 on its BPE slice) and writes their order-insensitive
value hashes to perfbench/expected.json. With
``--twin``, each hash is first cross-checked against the query's DuckDB
twin over the same parquet; a mismatch aborts without writing. d02's
twin is skipped: it ran for more than 6 minutes on 500 documents. Rerun
only when an engine change legitimately changes an output, or when the
input samples change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run as bench  # noqa: E402
from checks import EXPECTED_PATH, value_hash  # noqa: E402

SLOW_TWINS = {"d02_lsh_dedup_pipeline"}


def twin_hash(spec, data: str) -> tuple[str, float]:
    import duckdb

    con = duckdb.connect()
    for f in os.listdir(data):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{data}/{f}/*.parquet'")
    t0 = time.perf_counter()
    cur = con.execute(spec.oracle)
    cols = [d[0] for d in cur.description]
    return value_hash(cols, cur.fetchall()), time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--twin", action="store_true")
    args = ap.parse_args()
    expected: dict[str, str] = {}
    for wl in bench.WORKLOADS:
        work = os.path.join(HERE, ".work", f"record-{wl}-{os.getpid()}")
        os.makedirs(work)
        os.environ["TMPDIR"] = tempfile.tempdir = work
        r = bench.Run(bench.parse_args(["--workload", wl, "--seed", "0", "--seconds", "0"]),
                      work, log=None, expected=None)
        try:
            data = r.make_inputs()
            expected[f"{wl}/inputs"] = r.facts["inputs_hash"]
            if wl == "results-ingest":  # checked against compute_results in the run itself
                continue
            r.start_session()
            ops = [(name, data) for name in
                   sorted(bench.CTE_QUERIES if wl == "cte-pipeline" else bench.CORPUS_QUERIES)]
            if wl == "llm-corpus":
                ops.append((bench.BPE_QUERY, r.bpe_data))
            for name, data in ops:
                rec = r.run_query(name, data, traced=False)
                if not rec["ok"]:
                    print(r.failures[-1])
                    return 1
                expected[f"{wl}/{name}"] = rec["hash"]
                line = f"{wl}/{name}: {rec['hash']}  ({rec['s']:.1f} s)"
                if args.twin and name not in SLOW_TWINS:
                    import duckdb

                    try:
                        twin, s = twin_hash(r.specs[name], data)
                    except duckdb.Error as e:  # the twin itself cannot run on these inputs
                        line += f"  twin failed: {str(e).splitlines()[0]}"
                    else:
                        line += f"  twin {'==' if twin == rec['hash'] else '!='} ({s:.1f} s)"
                        if twin != rec["hash"]:
                            print(line)
                            return 1
                print(line, flush=True)
        finally:
            if getattr(r, "spark", None) is not None:
                r.stop_session()
            shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # a benchmark run is using it
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
