"""Self-tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")


# ---------------------------------------------------------------- generator

def _cdc_files(seed: int, mode: str) -> list[list[str]]:
    g = gen.CdcGenerator(seed, mode)
    batches = [g.seed_batch(50, 50, days=3)]
    batches += [g.mixed_batch(200) for _ in range(3)]
    return [b.lines for b in batches]


def test_cdc_generator_is_deterministic():
    for mode in ("chain", "churn"):
        assert _cdc_files(7, mode) == _cdc_files(7, mode)
        assert _cdc_files(7, mode) != _cdc_files(8, mode)


def test_corpus_generator_is_deterministic():
    a, b = gen.generate_corpus(7, 300), gen.generate_corpus(7, 300)
    assert a.to_bytes() == b.to_bytes()
    assert a.near_families and a.exact_families and a.gate_failures
    assert gen.generate_corpus(8, 300).docs != a.docs


def test_chain_batches_plant_broken_links():
    g = gen.CdcGenerator(3, "chain", broken_link=0.2)
    g.seed_batch(100, 100)
    for _ in range(3):
        g.mixed_batch(500)
    assert sum(o.rejected for o in g.oracles.values()) > 0


# ------------------------------------------------------------------- oracle

def _ev(op, pos, before=None, after=None):
    ev = {"op_type": op, "pos": f"{pos:020d}", "op_ts": "2024-01-01 00:00:00.000000"}
    if before is not None:
        ev["before"] = before
    if after is not None:
        ev["after"] = after
    return ev


def _img(key, title):
    return {"OFFENDER_ID": key, "TITLE": title}


def test_chain_oracle_update_after_insert():
    o = gen.ChainOracle(gen.OFFENDERS)
    o.apply_batch([_ev("I", 1, after=_img(1, "MR")),
                   _ev("U", 2, before=_img(1, "MR"), after=_img(1, "DR"))])
    assert o.rows[1][0] == _img(1, "DR") and (o.applied, o.rejected) == (2, 0)


def test_chain_oracle_delete_then_insert_resurrects():
    o = gen.ChainOracle(gen.OFFENDERS)
    o.apply_batch([_ev("I", 1, after=_img(1, "MR"))])
    o.apply_batch([_ev("D", 2, before=_img(1, "MR")),
                   _ev("I", 3, after=_img(1, "MS"))])
    assert o.rows[1][0] == _img(1, "MS")
    o.apply_batch([_ev("D", 4, before=_img(1, "MS"))])
    assert 1 not in o.rows and o.deleted == 1


def test_chain_oracle_rejects_broken_link_and_keeps_chaining():
    o = gen.ChainOracle(gen.OFFENDERS)
    o.apply_batch([_ev("I", 1, after=_img(1, "MR"))])
    o.apply_batch([
        _ev("U", 2, before=_img(1, "STALE"), after=_img(1, "DR")),  # broken
        _ev("U", 3, before=_img(1, "MR"), after=_img(1, "MS")),
        _ev("I", 4, after=_img(1, "MX")),  # insert on a live key
        _ev("D", 5, before=_img(1, "DR")),  # chained to the rejected image
    ])
    assert o.rows[1][0] == _img(1, "MS")
    assert (o.applied, o.rejected) == (2, 3)


def test_chain_oracle_orders_by_pos_not_arrival():
    o = gen.ChainOracle(gen.OFFENDERS)
    o.apply_batch([_ev("U", 2, before=_img(1, "MR"), after=_img(1, "DR")),
                   _ev("I", 1, after=_img(1, "MR"))])
    assert o.rows[1][0] == _img(1, "DR")


def test_last_writer_oracle():
    o = gen.LastWriterOracle(gen.OFFENDERS)
    o.apply_batch([_ev("I", 1, after=_img(1, "MR")),
                   _ev("U", 3, before=_img(1, "STALE"), after=_img(1, "DR")),
                   _ev("I", 2, after=_img(2, "MS")),
                   _ev("D", 4, before=_img(2, "MS"))])
    assert o.rows.keys() == {1} and o.rows[1][0] == _img(1, "DR")


def test_expected_rows_use_the_typed_target_form():
    o = gen.ChainOracle(gen.OFFENDERS)
    image = {f: None for f, _j, _d in gen.OFFENDER_FIELDS}
    image.update(OFFENDER_ID=5, AGE=40, BIRTH_DATE="1984-02-03",
                 MODIFY_DATETIME="2024-01-01 10:11:12.123456")
    o.apply_batch([_ev("I", 9, after=image)])
    row = dict(zip(gen.OFFENDERS.target_columns, o.expected_rows()[5]))
    assert row["offender_id"] == 5 and row["birth_date"] == "1984-02-03"
    assert row["modify_datetime"] == "2024-01-01 10:11:12.123456"
    assert row["admin_gg_pos"] == f"{9:020d}"


# ------------------------------------------------------------------ metrics

def test_metric_names_follow_the_contract():
    with open(BENCHMARK_JSON) as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layer == spans.metric_names()
    assert len(layer) <= 128 and len(set(e2e + layer)) == len(e2e + layer)
    for name in e2e + layer:
        assert NAME.fullmatch(name), name
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    assert all(units[k] == u for k, u in run.END_TO_END.items())
    assert all(units[k] == spans.unit(k) for k in layer)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)


def test_every_workload_times_a_fixed_number_of_steps():
    import workloads

    assert set(workloads.SIZES) == set(run.WORKLOAD_NAMES) == set(workloads.WORKLOADS)
    for size in workloads.SIZES.values():
        assert isinstance(size["steps"], int) and size["steps"] >= 1


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.tail_percentile([1.0] * 19) is None
    assert run.tail_percentile(list(range(1, 20))) is None   # p50: 9 beyond
    assert run.tail_percentile(list(range(1, 21))) == (50.0, 10, 20)
    assert run.tail_percentile(list(range(1, 201)))[:2] == (95.0, 190)
    assert run.tail_percentile(list(range(1, 1001)))[:2] == (99.0, 990)
    # ties at the percentile value are not "beyond" it
    assert run.tail_percentile([1.0] * 30 + [2.0] * 5) is None


# -------------------------------------------------------------------- trace

def test_attribute_self_idle_and_jobs():
    recorded = [spans.Span(0, "structured", 100.0, 110.0),
                spans.Span(1, "catalog_read", 101.0, 102.0, parent=0)]
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 103000,
         "Stage IDs": [7], "Properties": {spans.SPAN_PROPERTY: "0"}},
        {"Event": "SparkListenerJobStart", "Submission Time": 101500,
         "Stage IDs": [8], "Properties": {}},  # no property: innermost by time
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task Info": {"Launch Time": 104000, "Finish Time": 108000, "Failed": False},
         "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 500,
                          "Input Metrics": {"Bytes Read": 3e6}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 8,
         "Task Info": {"Launch Time": 101600, "Finish Time": 101800, "Failed": True}},
    ]
    out = spans.attribute(recorded, events, (99.0, 111.0))
    assert out["structured.busy_s"] == 10.0 and out["structured.self_s"] == 9.0
    assert abs(out["structured.idle_s"] - (10.0 - 4.2)) < 1e-9
    assert out["structured.jobs"] == 1 and out["structured.input_mb"] == 3.0
    assert out["structured.executor_cpu_s"] == 2.0 and out["structured.gc_s"] == 0.5
    assert out["catalog_read.jobs"] == 1 and out["catalog_read.failed_tasks"] == 1
    span_names = [n for n in spans.metric_names()
                  if n.split(".")[1] in spans.SPAN_COUNTERS]
    assert set(out) == set(span_names) | {"io.files_written", "io.partitions_touched"}


def test_retroactive_span_adopts_children_and_unattributed_share():
    tracer = spans.Tracer(active=True)
    tracer.spans = [spans.Span(0, "merge_write", 10.0, 12.0)]
    tracer.add("stream_batch", 9.0, 14.0)
    assert tracer.spans[0].parent == 1
    share = spans.unattributed_share(tracer.spans, [(9.0, 14.0)])
    assert abs(share - 3.0 / 5.0) < 1e-9
