#!/usr/bin/env python3
"""Self-tests of the benchmark harness (run from the repository root):

  python3 perfbench/selftest.py

1. The same seed gives identical check outputs (hashes) and row counts.
2. A different seed changes the inputs.
3. An op made to throw (--fail-op) is counted as failed, named, and its
   run reads as incorrect, with no pass time.
4. A layer probe made to throw in a traced run is counted the same way,
   and its metrics are null.

Each test runs the real benchmark command with a 1-second measurement.
"""
import hashlib
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
import inputs  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def bench(workload, seed, *extra, trace=0):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", str(trace), *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    last = json.loads(r.stdout.strip().splitlines()[-1])
    with open(os.path.join(WORK, f"last-{workload}.json")) as fh:
        return last, json.load(fh), r.stdout


def table_digest(d):
    h = hashlib.sha256()
    for t in inputs.TABLES:
        h.update(pq.read_table(os.path.join(d, f"{t}.parquet"))
                 .to_pandas().to_csv(index=False).encode())
    return h.hexdigest()


def test_same_seed_same_outputs():
    _, a, _ = bench("corpus", 3)
    _, b, _ = bench("corpus", 3)
    assert a["outputs"] == b["outputs"], (a["outputs"], b["outputs"])
    assert all(o["sha256"] for o in a["outputs"].values())


def test_other_seed_other_inputs():
    data = os.path.join(BENCH, "data")
    cache = os.path.join(WORK, "inputs")
    digests = {s: table_digest(inputs.prepare(s, data, cache))
               for s in (0, 1, 2)}
    assert len(set(digests.values())) == 3, digests
    # derivation is deterministic: a second derivation reads the same
    again = os.path.join(WORK, "inputs-again")
    assert table_digest(inputs.prepare(1, data, again)) == digests[1]


def test_thrown_op_is_counted():
    last, art, out = bench("corpus", 0, "--fail-op", "q_vocab")
    runs = [r for p in art["passes"] for r in p["ops"]]
    n = sum(r["name"] == "q_vocab" for r in runs)
    assert n >= 1 and last["failed"] == n, (last, n)
    assert last["correct"] is False
    assert "FAILED q_vocab" in out
    ok = [r for r in runs if r["name"] != "q_vocab"]
    assert last["attempted"] == len(ok) + n
    # a broken op must not read as a fast pass
    assert last["metrics"]["pass_s"]["value"] is None
    assert last["metrics"]["records_per_s"]["value"] is None


def test_thrown_layer_probe_is_counted():
    last, art, out = bench("panel", 0, "--fail-op", "layer.sim", trace=1)
    assert last["correct"] is False and last["failed"] == 1, last
    assert "FAILED layer.sim" in out
    # its metrics are null, never a substituted score
    assert last["metrics"]["sim.search.ivf.qps"]["value"] is None
    assert last["metrics"]["operators.busy_s"]["value"] is not None


if __name__ == "__main__":
    for t in (test_other_seed_other_inputs, test_same_seed_same_outputs,
              test_thrown_op_is_counted, test_thrown_layer_probe_is_counted):
        t()
        print(f"ok {t.__name__}")
