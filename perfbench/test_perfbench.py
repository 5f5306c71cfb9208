"""Tests for the benchmark's own code (no Spark session needed).

Run from the root of a checkout:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans as sp  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# --- result schema ---------------------------------------------------------------

def test_spec_metrics_are_named_with_units_and_bounds():
    spec = run.load_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_select_returns_every_listed_metric_with_its_unit():
    spec = run.load_spec()
    measured = {m["name"]: (1.5, "ignored") for m in spec["end_to_end"]}
    out = run.select(spec, "end_to_end", measured)
    assert list(out) == [m["name"] for m in spec["end_to_end"]]
    assert all(out[m["name"]] == (1.5, m["unit"]) for m in spec["end_to_end"])
    del measured["setup_s"]
    with pytest.raises(KeyError):
        run.select(spec, "end_to_end", measured)


def test_per_layer_defaults_only_untouched_families_and_tables():
    spec = run.load_spec()
    measured = {m["name"]: 2.0 for m in spec["per_layer"]
                if not m["name"].startswith(("operators.", "io."))}
    out = run.select(spec, "per_layer", measured)
    assert len(out) == len(spec["per_layer"])
    assert out["operators.transactions.wall_s"][0] == 0.0
    del measured["spark.jobs"]
    with pytest.raises(KeyError):
        run.select(spec, "per_layer", measured)


def test_per_layer_families_and_tables_are_the_workloads():
    """Every io/operators metric can be non-zero on some workload."""
    sys.path.insert(0, run.ROOT)
    from basin_climbing_data_pipeline_spark import registry

    names = {m["name"] for m in run.load_spec()["per_layer"]}
    tables = {n[len("io.materialize."):-2] for n in names
              if n.startswith("io.materialize.") and n.endswith("_s")}
    families = {n[len("operators."):-len(".wall_s")] for n in names
                if n.startswith("operators.") and n.endswith(".wall_s")}
    assert tables == {b.lstrip("_") for w in run.WORKLOADS.values() for b in w.warehouse}
    assert families == {run.module_of(registry.REGISTRY[q][0])
                        for w in run.WORKLOADS.values() for q in w.queries}
    assert all(b in run.WAREHOUSE for w in run.WORKLOADS.values() for b in w.warehouse)


def test_result_line_rejects_nan_and_keeps_digits():
    line = run.result_line(True, 3, 0, {"wall_s": (1.23456789, "s")})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["wall_s"] == {"value": 1.23456789, "unit": "s"}
    json.dumps(line, allow_nan=False)
    for bad in (math.nan, math.inf, None):
        with pytest.raises(ValueError):
            run.result_line(True, 1, 0, {"x": (bad, "s")})


# --- percentile rule ---------------------------------------------------------------

def test_p90_needs_100_samples():
    with pytest.raises(ValueError, match="needs >= 100 samples, got 99"):
        sp.tail_percentile([float(i) for i in range(99)], 0.9, 10)


def test_p90_with_100_samples_has_10_beyond():
    q, beyond = sp.tail_percentile([float(i) for i in range(1, 101)], 0.9, 10)
    assert q == pytest.approx(90.1)
    assert beyond == 10


# --- span self time ---------------------------------------------------------------

def _spans(*rows):
    return [sp.Span(name, a, b, parent, "q", i) for i, (name, a, b, parent) in enumerate(rows)]


def test_self_time_subtracts_children():
    spans = _spans(("query", 0.0, 10.0, None),
                   ("registry.build", 0.0, 4.0, 0),
                   ("catalyst.analysis", 3.0, 4.0, 1),
                   ("spark.exec", 5.0, 10.0, 0))
    st = sp.self_times(spans)
    assert st == pytest.approx({"query": 1.0, "registry.build": 3.0,
                                "catalyst.analysis": 1.0, "spark.exec": 5.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = _spans(("p", 0.0, 10.0, None),
                   ("a", 1.0, 5.0, 0), ("b", 3.0, 7.0, 0), ("c", 9.0, 12.0, 0))
    assert sp.self_times(spans)["p"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_covered_union():
    assert sp.covered([], 0, 1) == 0.0
    assert sp.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert sp.covered([(-5, 20)], 0, 10) == pytest.approx(10.0)


def test_tracer_records_parent_links():
    t = sp.Tracer()
    with t.span("query", "q1") as root:
        with t.span("registry.build", "q1", root):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert all(s.end >= s.start for s in t.spans)
    off = sp.Tracer(enabled=False)
    with off.span("query", "q1"):
        pass
    assert off.spans == []


def test_sql_metric_parsing():
    assert sp.parse_sql_metric("2.1 s") == pytest.approx(2.1)
    assert sp.parse_sql_metric("440 ms") == pytest.approx(0.44)
    assert sp.parse_sql_metric("1,000") == 1000
    assert sp.parse_sql_metric("25.3 KiB") == pytest.approx(25.3 * 1024)
    text = "total (min, med, max (stageId: taskId))\n3.5 s (1 ms, 2 ms, 3 s (stage 1: task 2))"
    assert sp.parse_sql_metric(text) == pytest.approx(3.5)
    assert sp.parse_sql_metric(None) == 0.0


# --- generator -------------------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    a, b = gen.make_tables(0.001, 7), gen.make_tables(0.001, 7)
    assert all(a[t].equals(b[t]) for t in a)
    c = gen.make_tables(0.001, 8)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}


def test_generated_files_are_byte_identical(tmp_path):
    gen.write_tables(gen.make_tables(0.001, 3), tmp_path / "x")
    gen.write_tables(gen.make_tables(0.001, 3), tmp_path / "y")
    for f in sorted(os.listdir(tmp_path / "x")):
        assert (tmp_path / "x" / f).read_bytes() == (tmp_path / "y" / f).read_bytes()


def test_corpus_replicas_are_deterministic_near_duplicates():
    base = gen.make_tables(0.001, 5)
    a = gen.replicate_corpus(base, 3, 5)
    assert all(a[t].equals(gen.replicate_corpus(base, 3, 5)[t]) for t in a)
    docs = a["documents"].to_pylist()
    n = base["documents"].num_rows
    assert len(docs) == 3 * n
    assert [d["doc_id"] for d in docs] == list(range(3 * n))
    assert docs[2 * n + 7]["text"] == docs[7]["text"] + " replica2"
    assert a["embeddings"].num_rows == 3 * base["embeddings"].num_rows
    assert a["lineitem"] is base["lineitem"]


def test_generated_catalog_matches_engine_tables():
    t = gen.make_tables(0.001, 1)
    assert set(t) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    norms = [math.hypot(*v) for v in t["embeddings"]["embedding"].to_pylist()[:20]]
    assert norms == pytest.approx([1.0] * 20, abs=1e-5)
    docs = t["documents"].to_pylist()
    assert all(d["n_chars"] == len(d["text"]) for d in docs)


def test_module_of_names_the_family():
    def f():
        pass

    f.__module__ = "basin_climbing_data_pipeline_spark.operators.dedup"
    assert run.module_of(f) == "dedup"
    f.__module__ = "basin_climbing_data_pipeline_spark.streaming.stateful"
    assert run.module_of(f) == "streaming.stateful"


# --- oracle digest ------------------------------------------------------------------

def test_digest_is_order_and_column_order_insensitive():
    a = oracle.digest(["b", "a"], [(1, 2.0), (3, None)])
    b = oracle.digest(["a", "b"], [(None, 3), (2.0, 1)])
    assert a == b
    assert oracle.compare(a, b) is None
    c = oracle.digest(["a", "b"], [(None, 3), (2.5, 1)])
    assert oracle.compare(a, c) == "value hash differs"
    assert oracle.canon_value(-0.0) == "0.0"
