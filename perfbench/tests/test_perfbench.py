"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
import types
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE), str(HERE.parent)]

import datagen  # noqa: E402
import run  # noqa: E402
from probes import Wrapped, parse_metric, steal_share  # noqa: E402
from spans import Span, Tracer, outermost, self_times, union_length  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_documents_are_deterministic_per_seed():
    def digest(seed):
        return hashlib.sha256(
            repr(datagen.documents(seed, 300, 0.05).to_pylist()).encode()
        ).hexdigest()

    assert digest(7) == digest(7)
    assert digest(7) != digest(8)


def test_documents_match_the_test_corpus_shape():
    docs = datagen.documents(3, 2000, 0.05).to_pylist()
    assert {d["source"] for d in docs} == {f"src{i}" for i in range(20)}
    words = {w for d in docs for w in d["text"].split()}
    assert words == set(datagen.VOCAB) | {"dup"}
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    dups = sum(d["text"].endswith(" dup") for d in docs)
    assert dups == 100


def test_prepare_links_the_fixed_tables_and_writes_the_corpus(tmp_path):
    fixed = tmp_path / "fixed"
    fixed.mkdir()
    for name in datagen.LINKED:
        (fixed / f"{name}.parquet").write_bytes(name.encode())
    out = tmp_path / "data"
    datagen.prepare(str(out), str(fixed), 5, 100, 0.05)
    for name in datagen.LINKED:
        link = out / f"{name}.parquet"
        assert link.is_symlink() and link.read_bytes() == name.encode()
    assert pq.read_table(out / "documents.parquet").num_rows == 100


def test_prepare_fails_without_the_fixed_tables(tmp_path):
    with pytest.raises(FileNotFoundError):
        datagen.prepare(str(tmp_path / "data"), str(tmp_path / "none"), 5, 100, 0.05)


def test_emitted_metric_names_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert per_layer == run.PER_LAYER_UNITS
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(WORKLOADS)
    assert BENCHMARK["paths"] == ["perfbench"]


def test_every_workload_query_has_an_oracle():
    from oamap_spark.queries import registry

    specs = registry.all_specs()
    for w in WORKLOADS.values():
        for name in w.queries:
            assert specs[name].oracle is not None, name


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)
    assert union_length([(3, 3), (4, 2)]) == 0.0


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("query", 0.0, 10.0, span_id=1),
        Span("queries.build", 0.0, 4.0, span_id=2, parent=1),
        Span("exec.job", 1.0, 3.0, span_id=3, parent=2),
        Span("exec.job", 2.0, 3.5, span_id=4, parent=2),  # overlaps job 3
        Span("exec.action", 5.0, 9.0, span_id=5, parent=1),
        Span("exec.job", 5.0, 12.0, span_id=6, parent=5),  # runs past its parent
    ]
    st = self_times(spans)
    assert st["query"] == pytest.approx(10.0 - 4.0 - 4.0)
    assert st["queries.build"] == pytest.approx(4.0 - 2.5)
    assert st["exec.action"] == pytest.approx(0.0)
    assert st["exec.job"] == pytest.approx(2.0 + 1.5 + 7.0)


def test_attach_parents_to_innermost_span_and_keeps_jobs_siblings():
    tr = Tracer(True)
    tr.spans = [
        Span("pass", 0.0, 10.0, span_id=1),
        Span("query", 1.0, 9.0, "q", span_id=2, parent=1),
        Span("queries.build", 1.0, 4.0, "q", span_id=3, parent=2),
    ]
    batch = tr.attach("stream.batch", 2.0, 3.0)
    job = tr.attach("exec.job", 2.5, 2.9)
    other = tr.attach("exec.job", 2.6, 2.7)
    assert (batch.parent, job.parent, other.parent) == (3, batch.span_id, batch.span_id)
    assert job.qid == "q"
    assert tr.attach("exec.job", 20.0, 21.0).parent is None


def test_outermost_counts_nested_calls_once():
    spans = [
        Span("clustering", 0.0, 5.0, span_id=1),
        Span("clustering", 1.0, 2.0, span_id=2, parent=1),
        Span("clustering", 6.0, 7.0, span_id=3),
    ]
    assert [s.span_id for s in outermost(spans, "clustering")] == [1, 3]


def test_injected_sleep_shows_in_the_wrapped_layers_self_time(monkeypatch):
    fake = types.ModuleType("oamap_spark._perfbench_fake")

    def inner():
        time.sleep(0.05)

    def outer():
        time.sleep(0.1)
        fake.inner()

    fake.inner, fake.outer = inner, outer
    monkeypatch.setitem(sys.modules, fake.__name__, fake)
    tr = Tracer(True)
    wraps = [
        Wrapped(tr, fake.__name__, "outer", "compiler"),
        Wrapped(tr, fake.__name__, "inner", "clustering"),
    ]
    try:
        with tr.span("query"):
            fake.outer()
    finally:
        for w in wraps:
            w.restore()
    assert fake.outer is outer and fake.inner is inner
    st = self_times(tr.spans)
    assert 0.1 <= st["compiler"] < 0.14
    assert 0.05 <= st["clustering"] < 0.09
    assert st["query"] < 0.03


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("query"):
        pass
    assert tr.spans == []


@pytest.mark.parametrize(
    "text, value",
    [
        ("12,345", 12345.0),
        ("21 ms", 21.0),
        ("1.5 s", 1500.0),
        ("3.0 MiB", 3.0 * 2**20),
        ("total (min, med, max (stageId: taskId))\n4.2 s (0 ms, 1 ms, 2 ms (stage 1.0: task 3))", 4200.0),
        ("", 0.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_quantile_interpolates():
    assert run.quantile([4.0, 1.0, 3.0, 2.0], 0.5) == pytest.approx(2.5)
    assert run.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.9) == pytest.approx(4.6)
    assert run.quantile([7.0], 0.9) == 7.0


def test_steal_share_is_steal_over_all_ticks():
    before = [100, 0, 10, 500, 0, 0, 0, 5]
    after = [160, 0, 20, 520, 0, 0, 0, 15]
    assert steal_share(before, after) == pytest.approx(10 / 100)
    assert steal_share(before, before) == 0.0
