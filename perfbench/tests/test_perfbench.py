"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The first tests need no Spark.  The ``run_*`` tests start the benchmark
at a tiny size (``--scale``) in a subprocess per workload and check the
printed result; they take a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checksum, fm_data, metrics, tables  # noqa: E402
from perfbench.harness import Tracer, percentile  # noqa: E402

TINY = {"serve_mixed": "0.25", "query_mix": "0.1"}


# ---------------------------------------------------------------------------
# no Spark
# ---------------------------------------------------------------------------

def test_catalog_matches_query_set():
    queries = {n[len("query."):-len("_s")] for n in metrics.PER_LAYER
               if n.startswith("query.") and n.endswith("_s")
               and not n.endswith("_per_pass")}
    assert queries == set(metrics.headline_queries())
    bounds = {n: b for n, (_, _, b) in metrics.END_TO_END.items()}
    assert bounds["setup_s"] == max(bounds.values())


def test_spans_nest_and_self_time_adds_up():
    tr = Tracer(enabled=True)
    with tr.op("root"):
        time.sleep(0.01)
        with tr.span("a"):
            time.sleep(0.01)
            with tr.span("a.inner"):
                time.sleep(0.01)
        with tr.span("b"):
            time.sleep(0.01)
    with tr.op("second"):
        with tr.span("c"):
            pass
    _check_spans(tr.spans)
    by_name = {s["name"]: s for s in tr.spans}
    root = by_name["root"]
    assert [c["name"] for c in tr.children(root)] == ["a", "b"]
    assert by_name["a.inner"]["parent"] == by_name["a"]["id"]
    assert by_name["c"]["op"] != root["op"]
    assert tr.self_time(root) >= 0.01


def _check_spans(spans):
    """Children lie inside their parent, share its op id, and the self
    times of each op's spans sum to the op's root span."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
            assert s["op"] == p["op"]
    tr = Tracer(enabled=True)
    tr.spans = spans
    for root in (s for s in spans if s["parent"] is None):
        subtree = [s for s in spans if s["op"] == root["op"]]
        total = sum(tr.self_time(s) for s in subtree)
        assert total == pytest.approx(root["end"] - root["start"], abs=1e-9)


def test_percentile_interpolates():
    assert percentile([1.0], 90) == 1.0
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert percentile(list(range(11)), 90) == pytest.approx(9.0)


def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "x": [0.1, 0.2, 0.3],
                         "s": ["a", "b", None],
                         "v": [[1.0, 2.0], [3.0], []]})


def test_checksum_is_order_independent_and_tolerant():
    a = _frame()
    want = checksum.summarize(a)
    assert checksum.kinds_of(want) == {"k": "exact", "x": "float",
                                       "s": "exact", "v": "exact"}
    b = a.iloc[::-1].reset_index(drop=True)
    b["x"] = b["x"] * (1 + 1e-12)
    b["k"] = b["k"].astype(float)       # an int column typed as float
    assert checksum.compare(
        checksum.summarize(b, checksum.kinds_of(want)), want) == []
    c = a.copy()
    c.loc[0, "s"] = "z"
    assert checksum.compare(checksum.summarize(c), want)


@pytest.mark.parametrize("col", ["x", "s", "v"])
def test_checksum_sees_values_swapped_between_rows(col):
    a = _frame()
    swapped = a.copy()
    vals = a[col].tolist()
    vals[0], vals[1] = vals[1], vals[0]
    swapped[col] = vals
    want = checksum.summarize(a)
    got = checksum.summarize(swapped, checksum.kinds_of(want))
    # every column keeps its multiset of values, so the exact columns'
    # own hashes do not see the swap; the row hash and weights do
    assert all(got["columns"][c] == want["columns"][c] for c in "ksv")
    assert checksum.compare(got, want)


def test_seed_changes_inputs_not_shape():
    a = fm_data.Planted.from_seed(1).ratings(500)
    a_again = fm_data.Planted.from_seed(1).ratings(500)
    b = fm_data.Planted.from_seed(2).ratings(500)
    assert all(np.array_equal(a[k], a_again[k]) for k in a)
    assert not np.array_equal(a["label"], b["label"])
    for r in (a, b):
        assert set(r) == {"user", "item", "ctx", "ctx_val", "label"}
        assert r["label"].min() >= 0.0 and r["label"].max() <= 1.0
        assert (r["user"] < fm_data.N_USERS).all()
        assert (r["item"] < fm_data.N_ITEMS).all()
        assert (r["ctx"] < fm_data.DIM).all()
        rows = fm_data.to_rows(r)
        assert {len(v.indices) for _, v in rows} <= {2, 3}
        assert all(v.size == fm_data.DIM for _, v in rows)


def test_row_order_follows_seed(tmp_path):
    import pyarrow.parquet as pq

    def rows(row_seed, name):
        out = tables.write_tables(tmp_path / f"t{row_seed}-{name}",
                                  row_seed=row_seed)
        return pq.read_table(out / "lineitem.parquet")

    a, a_again, b = rows(1, "a"), rows(1, "b"), rows(2, "c")
    assert a.equals(a_again) and not a.equals(b)
    key = [("l_orderkey", "ascending"), ("l_linenumber", "ascending")]
    assert a.sort_by(key).equals(b.sort_by(key))


def test_fm_formula_matches_reference_golden_values():
    # the reference suite's parameters, rows and expected predictions
    strength = {0: 0.1, 1: 0.2, 2: 0.3, 3: 0.4}
    factors = {0: [1, 2, 3], 1: [3, 2, 1], 2: [-0.1, -0.1, -0.2],
               3: [-0.5, 0.3, 0.0]}

    def pred(idx, val, lo=None, hi=None):
        return fm_data.fm_predict(5.0, strength, factors, idx, val, lo, hi)

    assert pred([0, 1, 2, 3], [1.0, 2.0, 1.5, -1.0]) == pytest.approx(23.77)
    assert pred([0, 2], [0.5, -1.5]) == pytest.approx(5.275)
    assert pred([0, 4], [2.0, 1.5]) == pytest.approx(5.2)   # 4 unlearned
    assert pred([], []) == 5.0
    assert pred([0, 1, 2, 3], [1.0, 2.0, 1.5, -1.0], 0.0, 6.0) == 6.0


def test_tables_are_deterministic():
    a, b = tables.build_tables(), tables.build_tables()
    assert set(a) == set(tables.SIZES) | {"region", "nation"}
    for name in a:
        assert a[name].equals(b[name]), name


# ---------------------------------------------------------------------------
# tiny runs through the command line
# ---------------------------------------------------------------------------

def _run(workload, seed, trace, tmp_path):
    spans = tmp_path / f"{workload}-{seed}-{trace}.json"
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", TINY[workload], "--spans", str(spans)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stdout
    assert result["attempted"] >= 1 and result["failed"] == 0
    return result, json.loads(spans.read_text())


@pytest.mark.parametrize("workload", metrics.WORKLOADS)
def test_run_emits_every_metric(workload, tmp_path):
    e2e, _ = _run(workload, 1, 0, tmp_path)
    assert {n: m["unit"] for n, m in e2e["metrics"].items()} == \
        {n: u for n, (u, _, _) in metrics.END_TO_END.items()}
    assert all(m["value"] > 0 for m in e2e["metrics"].values())

    layers, spans = _run(workload, 1, 1, tmp_path)
    assert {n: m["unit"] for n, m in layers["metrics"].items()} == \
        {n: u for n, (u, _) in metrics.PER_LAYER.items()}
    assert spans
    _check_spans(spans)


def test_other_seed_same_metric_names(tmp_path):
    a, _ = _run("serve_mixed", 1, 0, tmp_path)
    b, _ = _run("serve_mixed", 2, 0, tmp_path)
    assert list(a["metrics"]) == list(b["metrics"])
