#!/usr/bin/env python3
"""Self-test of the benchmark, at smoke size.

Run from the root of a checkout::

    python3 perfbench/selftest.py

It checks that

* every workload of ``BENCHMARK.json``, run untraced and traced at the
  tiny input size, prints as its last line a correct result that names
  every end-to-end (untraced) or per-layer (traced) metric with its unit;
* the output checks catch a deliberately perturbed output: one changed
  document, one changed query row and one raising query each raise
  ``fail_frac`` above 0;
* ``run.py`` exits non-zero, printing no result, in a directory that
  holds only ``BENCHMARK.json`` and the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def check_smoke(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = run_bench(ROOT, w["name"], trace)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise AssertionError(f"{w['name']} --trace {trace} exited {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, result
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            assert got == want, (w["name"], trace, set(got) ^ set(want))
            for n, m in result["metrics"].items():
                assert isinstance(m["value"], (int, float)), (n, m)
            print(f"ok: {w['name']} --trace {trace}: {len(got)} metrics, "
                  f"{result['attempted']} outputs checked")


def check_perturbed() -> None:
    import pyarrow as pa

    sys.path[:0] = [HERE, ROOT]
    import run

    run.configure(ROOT, WORK)
    from workloads import CHECKED

    web = run.make_workload("web_extract", "tiny")
    web.prepare(WORK, 7)
    rows = list(web.expected.values())
    good = pa.table({c: [r[i] for r in rows] for i, c in enumerate(CHECKED)})
    assert web.check(good) == (len(rows), 0)
    bad = good.set_column(1, "extracted_text", pa.array(["x"] + good.column(1).to_pylist()[1:]))
    attempted, failed = web.check(bad)
    assert failed / attempted > 0, "a changed document was not caught"
    attempted, failed = web.check(good.slice(1))
    assert failed / attempted > 0, "a missing document was not caught"

    ops = run.make_workload("ops_mix", "tiny")
    ops.prepare(WORK, 7)
    good = {n: (e["columns"], [dict(zip(e["columns"], r)) for r in e["rows"]])
            for n, e in ops.expected.items()}
    assert ops.check(good) == (len(good), 0)
    name = next(n for n, (_, r) in good.items() if r)
    cols, rows = good[name]
    bad = dict(good, **{name: (cols, [dict(rows[0], **{cols[0]: "perturbed"})] + rows[1:])})
    assert ops.check(bad)[1] == 1, "a changed query row was not caught"
    assert ops.check(dict(good, **{name: RuntimeError("query failed")}))[1] == 1
    print("ok: perturbed outputs raise fail_frac above 0")


def check_bare_directory() -> None:
    bare = os.path.join(WORK, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(bare, "web_extract", 0)
    shutil.rmtree(bare)
    assert proc.returncode != 0, "run.py succeeded without the program"
    assert '"metrics"' not in proc.stdout, proc.stdout
    print("ok: exits", proc.returncode, "without the program")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        check_bare_directory()
        check_perturbed()
        check_smoke(spec)
    finally:
        # the kernel oracle of check_perturbed leaves multiprocessing's
        # resource tracker running in this process
        sys.path.insert(0, HERE)
        from run import reap_children

        reap_children()
    return 0


if __name__ == "__main__":
    sys.exit(main())
