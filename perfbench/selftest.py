"""Self-tests for the benchmark itself.

    python3 perfbench/selftest.py          # fast: no Spark
    python3 perfbench/selftest.py --run    # also runs every workload once,
                                           # untraced and traced

Fast checks: BENCHMARK.json has its documented shape and limits, every
metric name matches [A-Za-z0-9_.-]+, every per-layer metric is measured
by some workload, config.json describes the same workloads, and the input
generators are deterministic for a seed, differ across seeds and never
touch Spark (so Spark parallelism cannot change them).

``--run`` checks that each workload prints, as its last line, a result
whose metrics are exactly the ones BENCHMARK.json declares, with its
output checks passing.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def check_declaration() -> None:
    b = load(os.path.join(ROOT, "BENCHMARK.json"))
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(b["paths"]) <= 16 and 1 <= len(b["command"]) <= 32
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    for section in ("end_to_end", "per_layer"):
        for m in b[section]:
            assert NAME.match(m["name"]), m["name"]
            assert UNIT.match(m["unit"]), m["unit"]
            assert m["better"] in ("lower", "higher"), m
    assert len(names) == len(set(names)), "metric or workload names repeat"
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert len(json.dumps(b)) <= 64 * 1024

    import workloads

    cfg = load(os.path.join(HERE, "config.json"))
    declared = [w["name"] for w in b["workloads"]]
    assert sorted(declared) == sorted(cfg["workloads"]) == sorted(workloads.WORKLOADS)
    for m in b["per_layer"]:
        assert any(m["name"].startswith(workloads.MEASURED[w]) for w in declared), \
            f"{m['name']} is measured by no workload"


def check_generators() -> None:
    import gen
    import workloads

    scfg = load(os.path.join(HERE, "config.json"))["workloads"]["search"]
    n_timed = workloads.stream_length(scfg, load(os.path.join(ROOT, "BENCHMARK.json"))["run_seconds"])

    def inputs(seed):
        v = gen.vocabulary(seed, 1200)
        base, needles = gen.corpus(seed, 120, v, tag="b")
        return {
            "vocab": v, "base": base, "needles": needles,
            "stream": gen.query_stream(seed, v, sorted(needles), scfg["per_shape"], n_timed,
                                       scfg["round_size"]),
            "adds": gen.add_batches(seed, base, v, 2, 10, 5),
            "pair": gen.snapshot_pair(seed, base, v, n_update=10, n_remove=5, n_new=8,
                                      n_near=3, n_exact=2),
            "tomb": gen.tombstone_sample(seed, 0, base.index.to_numpy()[::-1], 7, {0, 1}),
        }

    a, b, c = inputs(3), inputs(3), inputs(4)
    for key in a:
        assert _same(a[key], b[key]), f"{key} differs between two calls with one seed"
    assert not _same(a["base"], c["base"]) and a["stream"] != c["stream"]
    assert "pyspark" not in sys.modules, "generators must not touch Spark"
    assert n_timed >= 2 * 10, "the median needs 10 samples beyond it"
    # the tombstone sample depends on the id set, not on its order
    ids = a["base"].index.to_numpy()
    assert gen.tombstone_sample(3, 0, ids, 7, {0, 1}) == a["tomb"]
    # planted counts add up and planted pairs are ordered
    p = a["pair"]
    n = p["counts"]
    assert n["seen"] == n["new"] + n["updated"] + n["unchanged"] + n["removed"]
    assert all(x < y for x, y in p["near"] + p["exact"])
    # the timed stream, at the length run_seconds gives, covers the
    # grammar and every min_should_match, and repeats popular queries
    stream, pool = a["stream"]
    qs = [q for q, _ in stream]
    assert set(qs) <= set(pool)
    # which positions repeat a query is the same for every seed
    other = [q for q, _ in c["stream"][0]]
    assert [qs.index(q) for q in qs] == [other.index(q) for q in other]
    for mark in ("*", "~", "?", "/", '"', '"~', "-", "^", "needle"):
        assert any(mark in q for q in qs), mark
    assert any(t in q for q in qs for t in gen.ABSENT)
    assert {msm for _, msm in stream} == {None, 2, "all"}
    assert len(set(qs)) < len(qs)
    assert not any(t in a["vocab"] for t in gen.ABSENT)


def _same(x, y) -> bool:
    import pandas as pd

    if isinstance(x, pd.DataFrame):
        return x.equals(y)
    if isinstance(x, dict):
        return x.keys() == y.keys() and all(_same(x[k], y[k]) for k in x)
    if isinstance(x, (list, tuple)):
        return len(x) == len(y) and all(_same(p, q) for p, q in zip(x, y))
    return x == y


def check_runs() -> None:
    b = load(os.path.join(ROOT, "BENCHMARK.json"))
    for w in b["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            cmd = b["command"] + ["--workload", w["name"], "--seed", "1",
                                  "--seconds", str(b["run_seconds"]), "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180,
                                 check=True).stdout.strip().splitlines()[-1]
            res = json.loads(out)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in b[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: {set(got) ^ set(want)}"
            print(f"ok: {w['name']} --trace {trace}")


if __name__ == "__main__":
    check_declaration()
    check_generators()
    print("ok: declaration and generators")
    if "--run" in sys.argv[1:]:
        check_runs()
