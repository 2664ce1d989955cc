"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def test_benchmark_json_names_the_printed_metrics():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.per_layer_names()
    res = workloads.JobResult(2.0, 10, [1.0], 1.0, cpu_s=5.0)
    printed = run.end_to_end([1.0, 2.0, 3.0], [res])
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in printed.items()}
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)


def _span(name, start, end):
    s = spans.Span(name)
    s.start, s.end = start, end
    return s


def test_self_times_sum_to_the_root():
    root = _span("job", 0.0, 10.0)
    a = _span("catalog.append", 1.0, 4.0)
    b = _span("seen.filter_new", 2.0, 3.0)       # nested in a
    c = _span("catalog.append", 3.5, 6.0)        # another thread, overlaps a
    outside = _span("probe.scrape", 11.0, 12.0)
    st = spans.self_times([a, b, c, outside, root], [root])
    assert st == {"job": 5.0, "catalog.append": 4.0, "seen.filter_new": 1.0}
    assert sum(st.values()) == 10.0
    assert spans.busy_by_name([a, b, c, root], [root])["catalog.append"] == 5.5


def test_event_log_groups_and_untagged_jobs(tmp_path):
    root = _span("job", 0.0, 1.0)
    root.epoch = 100.0                                   # 100 000 .. 101 000 ms

    def job(jid, stage, group, t):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": t, "Stage IDs": [stage], "Properties": props}

    def stage(sid, cpu_ns, shuffle, sent):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime", "Value": cpu_ns},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle},
                {"Name": spans.PY_SENT, "Value": sent}]}}

    events = [job(0, 0, "seen.filter_new", 100_500), stage(0, 2e9, 10, 7),
              job(1, 1, None, 100_600), stage(1, 1e9, 0, 0),       # inside the root
              job(2, 2, None, 200_000), stage(2, 1e9, 0, 0)]       # outside it
    (tmp_path / "eventlog_v2_app").mkdir()
    (tmp_path / "eventlog_v2_app" / "events_1_app").write_text(
        "\n".join(json.dumps(e) for e in events))
    groups = spans.by_layer(spans.parse_event_log(str(tmp_path), [root]))
    assert groups["seen"] == {"tasks": 4, "executor_cpu_s": 2.0,
                              "shuffle_bytes": 10, "python_bytes_sent": 7}
    assert groups["job"]["executor_cpu_s"] == 1.0
    assert groups["none"]["tasks"] == 4


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0] * 99, "s")["tail"] is None
    t = run.tail([float(i) for i in range(100)], "s")
    assert (t["tail_pct"], t["tail"]) == (90, 89.0)


def test_every_seed_gives_the_same_crawl_shape():
    """The simulator side of the crawl check, recomputed from the corpus
    generator without Spark: whichever start host a seed picks, the crawl
    visits the same number of pages in the same number of rounds, so the
    seed changes no size."""
    from anycrawl_spark.corpus import (LANGS, build_page_html, host_name,
                                       host_plan, page_url)
    from tests.simulator import key_of, simulate_crawl

    n, hosts = workloads.CORPUS_PAGES, workloads.CORPUS_HOSTS
    bounds = host_plan(n, hosts)
    corpus = {}
    for h in range(hosts):
        size = int(bounds[h + 1] - bounds[h])
        for i in range(size):
            corpus[key_of(page_url(host_name(h), i))] = build_page_html(
                h, hosts, i, size, LANGS[h % len(LANGS)])
    cfg = {k: v for k, v in workloads.CRAWL.items()
           if k not in ("prefilter_min_seen", "respect_robots")}
    shapes = set()
    for h in range(hosts):
        sim = simulate_crawl(corpus, f"https://{host_name(h)}/p/0", **cfg)
        per_round = [0] * (sim.rounds + 1)
        per_host_round: dict = {}
        for v in sim.visits:
            per_round[v.round] += 1
            key = (v.round, v.url.split("/")[2])
            per_host_round[key] = per_host_round.get(key, 0) + 1
        shapes.add((sim.done, sim.rounds, tuple(per_round),
                    max(per_host_round.values())))
    assert len(shapes) == 1
    done, rounds, per_round, busiest = shapes.pop()
    assert done == workloads.CRAWL["limit"]
    # the per-host budget binds, and the seen set outgrows
    # prefilter_min_seen after the first rounds, so both mechanisms run
    assert busiest == workloads.CRAWL["politeness_budget"]
    assert sum(per_round[:3]) < workloads.CRAWL["prefilter_min_seen"] < done
