"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import hostspeed  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, covered, self_times, totals  # noqa: E402
from workloads import fleet_groups, pass_order, value_hash  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _config():
    with open(os.path.join(BENCH, "workloads.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ tail rule


def test_tail_needs_ten_samples_beyond():
    assert stats.beyond(40, 75) == 10
    assert stats.supported(40, 75)
    assert not stats.supported(39, 75)
    assert not stats.supported(100, 91)
    assert stats.supported(100, 90)
    assert not any(stats.supported(10, p) for p in range(1, 101))


@pytest.mark.parametrize("n", [1, 2, 3, 7, 10, 12, 40, 99])
@pytest.mark.parametrize("p", [50, 75, 90, 99])
def test_percentile_is_a_sample_never_an_interpolation(n, p):
    samples = [float(i) + 0.5 for i in range(n)]
    value = stats.percentile(list(reversed(samples)), p)
    assert value in samples
    assert value == sorted(samples)[stats.rank(n, p) - 1]


def test_rank_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.rank(0, 50)
    with pytest.raises(ValueError):
        stats.rank(10, 0)


def test_spread_matches_statistics_quantiles():
    values = [1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9]
    q1, med, q3 = stats.quartiles(values)
    assert stats.spread(values) == pytest.approx((q3 - q1) / med)


# ---------------------------------------------------------- host speed


def _e2e(lat, refs, stolen, setup=(20.0, None, 0.0), ok=None):
    nominal = hostspeed.NOMINAL_S
    ok = ok or [True] * len(lat)
    return run.end_to_end(
        list(zip(lat, refs, stolen, ok)), (setup[0], setup[1] or nominal, setup[2]),
        p=75, peak_rss_mb=900.0,
    )


def test_scaling_cancels_host_speed():
    """A run on a host twice as slow (every time and the reference
    doubled) reads the same once scaled; peak memory is never scaled."""
    nominal = hostspeed.NOMINAL_S
    lat = [1.0, 1.2, 0.9, 1.1, 1.5]
    fast = _e2e(lat, [nominal] * 5, [0.0] * 5)
    slow = _e2e([2 * x for x in lat], [2 * nominal] * 5, [0.0] * 5,
                setup=(40.0, 2 * nominal, 0.0))
    for k in fast:
        assert slow[k] == pytest.approx(fast[k]), k
    assert fast["latency_p50_s"] == 1.1
    assert fast["latency_tail_s"] == stats.percentile(lat, 75)
    assert fast["throughput_ops_s"] == pytest.approx(5 / sum(lat))
    assert fast["peak_rss_mb"] == slow["peak_rss_mb"] == 900.0


def test_scaling_removes_stolen_time():
    nominal = hostspeed.NOMINAL_S
    lat = [1.0, 1.2, 0.9]
    clean = _e2e(lat, [nominal] * 3, [0.0] * 3)
    robbed = _e2e([x / 0.8 for x in lat], [nominal] * 3, [0.2] * 3, setup=(25.0, None, 0.2))
    for k in clean:
        assert robbed[k] == pytest.approx(clean[k]), k


def test_each_latency_is_scaled_by_its_own_reference():
    nominal = hostspeed.NOMINAL_S
    out = _e2e([1.0, 4.0, 2.0], [nominal, 2 * nominal, nominal], [0.0, 0.0, 0.5])
    assert out["latency_p50_s"] == pytest.approx(1.0)  # of 1.0, 2.0, 1.0


def test_failed_operations_count_against_throughput():
    nominal = hostspeed.NOMINAL_S
    out = _e2e([1.0, 1.0, 2.0], [nominal] * 3, [0.0] * 3, ok=[True, True, False])
    assert out["throughput_ops_s"] == pytest.approx(2 / 4.0)
    assert out["latency_p50_s"] == 1.0


def test_stolen_share_from_tick_readings():
    assert hostspeed.stolen_share((100, 10), (300, 60)) == pytest.approx(0.25)
    assert hostspeed.stolen_share((100, 10), (100, 10)) == 0.0
    wanted, stolen = hostspeed.cpu_ticks()
    assert 0 <= stolen <= wanted


def test_reference_is_a_positive_time():
    assert 0 < hostspeed.reference_s(samples=3) < 1.0


# ----------------------------------------------------------- self time


def test_self_time_subtracts_children_union():
    spans = [
        Span(0, "build", 0.0, 10.0, None, 0),
        Span(1, "fetch", 1.0, 4.0, 0, 0),
        Span(2, "fetch", 3.0, 6.0, 0, 0),  # overlaps the first child
        Span(3, "geojson", 8.0, 9.0, 0, 0),
        Span(4, "inner", 2.0, 3.0, 1, 0),
    ]
    st = self_times(spans)
    assert st["build"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["fetch"] == pytest.approx((3.0 - 1.0) + 3.0)
    assert st["geojson"] == pytest.approx(1.0)
    assert st["inner"] == pytest.approx(1.0)
    assert totals(spans)["fetch"] == pytest.approx(6.0)


def test_tracer_records_parents_and_ops():
    tr = Tracer(enabled=True)
    tr.op_id = 7
    with tr.span("a"):
        with tr.span("b"):
            pass
    with tr.span("c"):
        pass
    a, b, c = tr.spans
    assert (a.parent, b.parent, c.parent) == (None, a.span_id, None)
    assert {s.op_id for s in tr.spans} == {7}
    assert a.start <= b.start <= b.end <= a.end
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_covered_unions_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert covered([]) == 0.0


# ------------------------------------------------------- determinism


def test_seed_fixes_fleet_and_pass_order():
    assert fleet_groups(5, 4) == fleet_groups(5, 4)
    assert fleet_groups(5, 4) != fleet_groups(6, 4)
    assert len(set(fleet_groups(5, 40))) == 40
    members = ["a", "b", "c", "d", "e"]
    for k in range(5):
        order = pass_order(members, 3, k)
        assert order == pass_order(members, 3, k)
        assert sorted(order) == members
    assert [pass_order(members, 3, k) for k in range(5)] != [
        pass_order(members, 4, k) for k in range(5)
    ]


def test_seed_fixes_generated_tables():
    a = datagen.tables(11, 0.0005)
    b = datagen.tables(11, 0.0005)
    c = datagen.tables(12, 0.0005)
    assert set(a) == set(datagen.sizes(0.0005))
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == datagen.sizes(0.0005)[name]
    assert not a["lineitem"].equals(c["lineitem"])


def test_value_hash_is_order_insensitive():
    normalize = run.load_normalize()
    rows = [{"a": 1, "b": "x"}, {"a": 2, "b": None}]
    assert value_hash(rows, normalize) == value_hash(rows[::-1], normalize)
    assert value_hash(rows, normalize) != value_hash(rows[:1], normalize)


# ------------------------------------------------------- metric names


def test_declared_names_are_well_formed_and_unique():
    d = _declared()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in d[k]]
    names += [w["name"] for w in d["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in d["end_to_end"]
    )


def test_workload_config_matches_declaration():
    d, cfg = _declared(), _config()
    assert {w["name"] for w in d["workloads"]} <= set(cfg["workloads"])
    assert {m["name"] for m in d["per_layer"]} == set(cfg["layers"])
    e2e = {m["name"] for m in d["end_to_end"]}
    workloads = set(cfg["workloads"])
    measured = {w["name"] for w in d["workloads"]}
    for name, layer in cfg["layers"].items():
        assert layer["moves"] in e2e
        assert set(layer["on"]) <= workloads and set(layer["flat_on"]) <= workloads
        # a layer predicted to move something must move it where the
        # benchmark actually runs
        assert not layer["on"] or set(layer["on"]) & measured, name


def test_printed_layer_metrics_cover_declaration():
    """Every per-layer name a traced run prints comes from these
    producers: the probe, the workloads and the run's own spans."""
    produced = set(layers.PROBE_METRICS) | set(run.SPAN_METRICS.values())
    produced |= {"blocks.release_s", "blocks.released", "pipeline.features",
                 "io.features_posted", "pipeline.yield"}
    produced |= set(run.layer_metrics(Tracer(True), [], [], 1.0, 2.0, 3.0))
    assert produced == {m["name"] for m in _declared()["per_layer"]}


def test_parse_metric_formats():
    assert layers.parse_metric("2.2 s") == pytest.approx(2.2)
    assert layers.parse_metric("832 ms") == pytest.approx(0.832)
    assert layers.parse_metric("1.5 m") == pytest.approx(90.0)
    assert layers.parse_metric("10.3 KiB") == pytest.approx(10.3 * 1024)
    assert layers.parse_metric("0.0 B") == 0.0
    assert layers.parse_metric("59") == 59.0
    multi = "total (min, med, max (stageId: taskId))\n392.2 KiB (196.1 KiB, 196.1 KiB)"
    assert layers.parse_metric(multi) == pytest.approx(392.2 * 1024)
    with pytest.raises(ValueError):
        layers.parse_metric("n/a")
