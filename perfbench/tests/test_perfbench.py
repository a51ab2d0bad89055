"""Fast tests of the benchmark itself: each workload runs for a few seconds
at sf0.001, prints every metric with its unit, and answers correctly.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import templates  # noqa: E402

#: metric -> unit each workload's report must print
NAMED = {
    "server_mixed": {
        "setup_s": "s", "routed_p50_s": "s", "routed_tail_s": "s",
        "pushdown_p50_s": "s", "pushdown_tail_s": "s", "queries_per_s": "1/s",
        "routed_within_limit_frac": "ratio", "failed_frac": "ratio",
        "peak_rss_mb": "MB",
    },
    "refresh": {
        "setup_s": "s", "refresh_p50_s": "s", "freshness_p50_s": "s",
        "restate_p50_s": "s", "write_p50_s": "s", "routed_p50_s": "s",
        "routed_tail_s": "s",
        "ops_per_s": "1/s", "failed_frac": "ratio", "peak_rss_mb": "MB",
    },
    "pipeline": {
        "setup_s": "s", "job_p50_s": "s", "job_tail_s": "s", "jobs_per_s": "1/s",
        "round_p50_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
    },
}
END_TO_END = {"op_mean_s": "s", "ops_per_s": "1/s", "setup_s": "s"}


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "3", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180, check=True,
    ).stdout.splitlines()
    named = {}
    for line in out:
        if line.startswith("metric "):
            _, name, value, unit = line.split("#")[0].split()
            named[name] = (float(value), unit)
    return named, json.loads(out[-1])


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_workload_prints_every_metric_and_answers_correctly(workload):
    named, result = _run(workload, seed=5, trace=0)
    for name, unit in NAMED[workload].items():
        assert named.get(name, (None, None))[1] == unit, name
    assert named["failed_frac"][0] == 0
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    named, result = _run("server_mixed", seed=6, trace=1)
    assert named["failed_frac"][0] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == layers.METRICS
    m = {k: v["value"] for k, v in result["metrics"].items()}
    for key in ("engine.sql_s", "analysis_s", "digest_s", "router.plan_s",
                "exec.collect_s", "exec.jobs", "server.lock_wait_s",
                "build.tpch_cube_s", "build.layouts"):
        assert m[key] > 0, key
    assert m["routed_ratio"] == 1.0


def _draw(seed: int, n: int) -> list[templates.Query]:
    ctx = templates.Context(months=24, min_group_rows=400)
    stream = templates.QueryStream(templates.ROUTED, ctx, random.Random(seed))
    return [stream.next()[0] for _ in range(n)]


def test_two_seeds_give_other_texts_in_the_same_template_mix():
    n = 4 * len(templates.ROUTED)
    a, b = _draw(1, n), _draw(2, n)
    assert {q.sql for q in a} != {q.sql for q in b}
    assert Counter(q.kind for q in a) == Counter(q.kind for q in b)
    assert Counter(q.kind for q in a) == {k: 4 for k in templates.ROUTED}


def test_half_the_texts_repeat():
    stream = templates.QueryStream(
        templates.ROUTED, templates.Context(24, 400), random.Random(3)
    )
    repeats = [stream.next()[1] for _ in range(4 * len(templates.ROUTED))]
    assert sum(repeats) == len(repeats) // 2
    warm = {q.sql for q in stream.warmup}
    assert not warm & {q.sql for q in stream.seen["exact"]}


def test_server_traffic_comes_in_whole_rounds_of_evenly_spaced_views():
    import workloads

    ctx = templates.Context(months=24, min_group_rows=400)
    routed = templates.QueryStream(templates.ROUTED, ctx, random.Random(1))
    adhoc = templates.QueryStream(templates.PUSHDOWN, ctx, random.Random(2), repeats=False)
    assert sorted(workloads.ROUND_ORDER) == sorted([*templates.ROUTED, *templates.PUSHDOWN])
    rate = 3.0
    ops, _ = workloads._open(workloads._mix(routed, adhoc), random.Random(4), False, 2, rate)
    assert [o.query.kind for o in ops] == 2 * list(workloads.ROUND_ORDER)
    views = sorted(Counter(o.due for o in ops).items())
    assert all(n == workloads.VIEW for _, n in views)
    gaps = {round(b[0] - a[0], 9) for a, b in zip(views, views[1:])}
    assert gaps == {round(workloads.VIEW / rate, 9)}
