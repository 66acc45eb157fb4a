"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from stats import TAIL_MIN_BEYOND, tail_percentile  # noqa: E402
from workloads import WORKLOADS, AcquireMerge  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _acquire_bytes(seed: int) -> bytes:
    spec = inputs.ImageSpec("img000000", *AcquireMerge.shape)
    return b"".join(
        inputs.ome_tiff_bytes(inputs.volume(seed, 1, i, spec), f"img{i:06d}") for i in range(3)
    )


@pytest.mark.parametrize(
    "make",
    [
        _acquire_bytes,
        lambda seed: inputs.embeddings(seed, 300, 16, 4, 0.1).tobytes(),
    ],
    ids=["acquire_merge", "link"],
)
def test_same_seed_gives_byte_identical_inputs(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_generated_ome_tiff_decodes_to_its_pixels():
    from ome_arrow_spark.sources.tiff import decode_volume_bytes

    spec = inputs.ImageSpec("img000001", *AcquireMerge.shape)
    vol = inputs.volume(3, 1, 1, spec)
    got, _, _, _ = decode_volume_bytes("img000001.ome.tif", inputs.ome_tiff_bytes(vol, "img000001"))
    np.testing.assert_array_equal(got, vol)


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in list(range(1, 120)) + [500, 1000]:
        values = list(np.random.default_rng(n).permutation(n).astype(float))
        tp = tail_percentile(values)
        if n < 2 * TAIL_MIN_BEYOND:
            assert tp is None, n
            continue
        pct, value = tp
        assert sum(v > value for v in values) >= TAIL_MIN_BEYOND, n
        if pct < 99:  # the next percentile up would leave too few
            higher = sorted(values)[max(1, -(-(pct + 1) * n // 100)) - 1]
            assert sum(v > higher for v in values) < TAIL_MIN_BEYOND, n


def test_metric_and_workload_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"]] + [m["name"] for m in bench["per_layer"]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == spans.per_layer_metrics()


def _ts(sec: float) -> str:
    """Spark REST timestamp for ``1_700_000_000 + sec``."""
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(1_700_000_000 + sec, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}GMT"


def test_job_group_aggregation_on_a_toy_job():
    base = 1_700_000_000
    outer = spans.Span(1, "streaming.run_foreach_batch", "r", None, base + 0.0, base + 10.0, None)
    inner = spans.Span(2, "table_log.append_ome_table", "r", 1, base + 2.0, base + 6.0, "g2")
    jobs = [
        # two jobs of the inner span's group; the second reuses stage 11
        {"jobId": 0, "jobGroup": "g2", "submissionTime": _ts(2.5), "completionTime": _ts(3.5),
         "stageIds": [10, 11]},
        {"jobId": 1, "jobGroup": "g2", "submissionTime": _ts(4.0), "completionTime": _ts(5.0),
         "stageIds": [11, 12]},
        # the streaming engine's own job, under a group no span owns
        {"jobId": 2, "jobGroup": "stream-run-id", "submissionTime": _ts(7.0),
         "completionTime": _ts(8.0), "stageIds": [13]},
    ]
    stage = {"numTasks": 4, "numFailedTasks": 0, "executorRunTime": 1500, "inputBytes": 100,
             "shuffleWriteBytes": 10, "diskBytesSpilled": 0, "attemptId": 0, "status": "COMPLETE"}
    stages = [
        {**stage, "stageId": 10},
        {**stage, "stageId": 11, "numFailedTasks": 1},
        {**stage, "stageId": 12, "status": "SKIPPED"},
        {**stage, "stageId": 13, "inputBytes": 7},
    ]
    spans.span_counters([outer, inner], jobs, stages)
    c = inner.counters
    assert c["jobs"] == 2 and c["tasks"] == 8 and c["failed_tasks"] == 1
    assert c["executor_run_s"] == pytest.approx(3.0)
    assert c["input_bytes"] == 200 and c["shuffle_bytes"] == 20 and c["spill_bytes"] == 0
    assert c["wall_s"] == pytest.approx(4.0)
    assert c["driver_s"] == pytest.approx(2.0, abs=1e-3)  # 4 s wall, jobs cover 2 s
    o = outer.counters
    assert o["jobs"] == 1 and o["input_bytes"] == 7
    assert o["driver_s"] == pytest.approx(7.0, abs=1e-3)  # 10 s wall, 3 s under jobs
    assert spans.self_times([outer, inner]) == {1: pytest.approx(6.0), 2: pytest.approx(4.0)}


def test_link_check_fails_empty_truncated_and_low_recall_joins(tmp_path):
    wl = WORKLOADS["link"](5, str(tmp_path), spans.Tracer(enabled=False, run_id="r"))
    truth = inputs.brute_force_topk(wl.emb, wl.k)
    exact = [(wl.ids[q], wl.ids[c]) for q in range(wl.n) for c in truth[q]]
    # every id linked to itself only: a full but poor result
    poor = [(i, i) for i in wl.ids]
    wl.results = [exact, [], exact[: len(exact) // 2], poor, exact + [(wl.ids[0], "nope")]]
    attempted, failed, checked = wl.check()
    assert (attempted, failed) == (5, 4)
    assert checked["link_recall"] == 0.0
    wl.results = [exact]
    assert wl.check() == (1, 0, {"link_recall": 1.0})


def test_disabled_tracer_records_nothing():
    tracer = spans.Tracer(enabled=False, run_id="r")
    with tracer.span("table_log.read_ome_table") as s:
        assert s is None
    assert tracer.spans == []


def test_tracing_overhead_compares_like_with_like():
    samples = [("a", 1.0, False), ("a", 1.1, True), ("b", 10.0, False), ("b", 10.0, True)]
    assert run.tracing_overhead(samples) == pytest.approx(0.05)
