"""Tests of the benchmark's generators, ground truth, checks and tracer.

None of them starts Spark.  Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen_docs  # noqa: E402
import gen_logs  # noqa: E402
import workloads  # noqa: E402
from tracing import Span, Tracer  # noqa: E402


def _jobs(seed=3):
    return gen_logs.generate_jobs(seed, n_jobs=12, total_lines=8000, max_lines=2500)


# ------------------------------------------------------------ determinism


def test_same_seed_gives_byte_identical_logs():
    a, b = _jobs(), _jobs()
    assert [(j.file_name, j.data) for j in a] == [(j.file_name, j.data) for j in b]
    assert [j.data for j in _jobs(4)] != [j.data for j in a]


def test_same_seed_gives_identical_corpus():
    a, b = gen_docs.generate_corpus(5, 300), gen_docs.generate_corpus(5, 300)
    assert (a.texts, a.passes, a.planted) == (b.texts, b.passes, b.planted)
    assert gen_docs.generate_corpus(6, 300).texts != a.texts


# ------------------------------------------------------------ generators


def test_log_line_mix():
    jobs = _jobs()
    data = b"".join(j.data for j in jobs)
    truths = [gen_logs.expected_job(j.data) for j in jobs]
    entries = [e for t in truths for e in t.entries]
    assert b"\r\n" in data and b"\n" in data.replace(b"\r\n", b"")
    assert any(
        ln.count(gen_logs.OSC) >= 2 and "\r" in ln
        for j in jobs
        for ln in gen_logs.parse_raw_lines(j.data)
    )
    headers = {e.group[:3] for e in entries if e.is_group}
    assert headers == {"~~~", "---", "+++"}
    assert sum(t.quarantined for t in truths) > 0
    assert any(not e.has_timestamp for e in entries)
    assert any(e.is_command for e in entries)
    assert any(e.is_progress for e in entries)
    assert any(e.group == "" for e in entries)
    sizes = sorted(t.n_lines for t in truths)
    assert sizes[-1] <= 2500 and sizes[-1] >= 3 * sizes[len(sizes) // 2]


def test_expected_job_follows_the_parser_rules():
    log = (
        b"\x1b_bk;t=1000\x07~~~ Build\r\n"
        b"\x1b_bk;t=1001\x07\x1b[90m$ \x1b[0mmake\n"
        b"plain line\n"
        b"\x1b_bk;t=12x\x07bad timestamp\n"
        b"\x1b_bk;t=1002\x07remote: Counting objects: 50%\x1b[K"
        b"\r\x1b_bk;t=1003\x07remote: Counting objects: 100%\x1b[K\n"
        b"\x1b_bk;t=1004\x07\x1b[32m--- Test\x1b[0m\n"
    )
    t = gen_logs.expected_job(log)
    assert (t.n_lines, t.quarantined) == (6, 1)
    assert [e.row_id for e in t.entries] == [0, 1, 2, 4, 5]
    assert [e.group for e in t.entries] == ["~~~ Build"] * 4 + ["--- Test"]
    assert [e.is_command for e in t.entries] == [False, True, False, False, False]
    assert [e.is_progress for e in t.entries] == [False, False, False, True, False]
    assert [e.timestamp for e in t.entries] == [1000, 1001, gen_logs.NO_TS_MS, 1002, 1004]
    assert gen_logs.list_groups_of(t.entries) == [
        ("~~~ Build", 4, gen_logs.NO_TS_MS, 1002, 1, 1),
        ("--- Test", 1, 1004, 1004, 0, 0),
    ]
    assert gen_logs.by_group_count(t.entries, "BUILD") == 4


def test_minhash_twin_finds_the_planted_clusters():
    corpus = gen_docs.generate_corpus(1, 600)
    truth = gen_docs.expected_curation(corpus)
    found: dict[int, list[int]] = {}
    for doc, root in truth.cluster.items():
        found.setdefault(root, []).append(doc)
    clusters = {tuple(sorted(c)) for c in found.values() if len(c) > 1}
    recovered = sum(tuple(p) in clusters for p in corpus.planted)
    assert corpus.planted and recovered >= 0.9 * len(corpus.planted)


def test_expected_packing():
    texts = {0: "a b c", 1: "d e", 2: "f g h i"}
    assert gen_docs.expected_packing(texts, capacity=4) == [
        (0, 2, 4, 0, 1),
        (1, 2, 4, 1, 2),
        (2, 1, 1, 2, 2),
    ]


# ------------------------------------------------------------ checks reject wrong answers


def _ingest():
    w = workloads.IngestJobs.__new__(workloads.IngestJobs)
    w.jobs = _jobs()
    w.ground_truth()
    return w


def _corruptions_of(answers: dict):
    """Each answer with one value changed, one at a time."""
    for key, value in answers.items():
        if isinstance(value, dict):
            k = next(iter(value))
            v = value[k]
            bad = (v[0] + 1, *v[1:]) if isinstance(v, tuple) else (not v if isinstance(v, bool) else v + 1)
            yield key, {**answers, key: {**value, k: bad}}
        elif isinstance(value, tuple):
            yield key, {**answers, key: (value[0] + 1, *value[1:])}
        elif isinstance(value, list):
            yield key, {**answers, key: value[:-1]}
        else:
            yield key, {**answers, key: value - 1}


def test_ingest_check_rejects_each_corrupted_answer():
    w = _ingest()
    good = w.answers()
    assert workloads.compare("ingest_jobs", good, w.answers()) == []
    keys = []
    for key, bad in _corruptions_of(good):
        assert workloads.compare("ingest_jobs", bad, w.answers()), key
        keys.append(key)
    assert len(keys) == 4


def _engine_rows(w, req):
    """Rows shaped as the engine returns them for ``req``."""
    want = w._expected(req)
    if req.op in ("tail", "seek"):
        return [{"row_id": r} for r in reversed(want)]
    if req.op == "by_group_stats":
        return [(want[0],)]
    return [tuple(r) for r in want]


def test_query_check_rejects_corrupted_rows():
    w = workloads.QueryMix.__new__(workloads.QueryMix)
    w.seed, w.jobs = 3, _jobs()
    w.ground_truth()
    firsts = {}
    for req in w.sequence:
        firsts.setdefault(req.op, req)
    assert set(firsts) == set(workloads.JOB_OPS + workloads.LAKE_OPS)
    for req in firsts.values():
        rows = _engine_rows(w, req)
        w.last = [(req, rows)]
        assert w.verify() == [], req
        if req.op in ("tail", "seek"):
            bad = [{"row_id": r["row_id"] + 1} for r in rows]
        elif req.op == "by_group_stats":
            bad = [(rows[0][0] + 1,)]
        else:
            bad = [(*rows[0][:-1], rows[0][-1] + 1), *rows[1:]]
        w.last = [(req, bad)]
        assert w.verify(), req


def test_curation_check_rejects_each_corrupted_answer():
    w = workloads.CurateDocs.__new__(workloads.CurateDocs)
    w.corpus = gen_docs.generate_corpus(2, 300)
    w.ground_truth()
    good = w.answers()
    assert workloads.compare("curate_docs", good, w.answers()) == []
    for key, bad in _corruptions_of(good):
        assert workloads.compare("curate_docs", bad, w.answers()), key


# ------------------------------------------------------------ tracer


class _FakeSpark:
    sparkContext = None


def test_self_time_subtracts_the_union_of_child_spans():
    tr = Tracer(_FakeSpark(), enabled=False)
    tr.spans = [
        Span(0, "root", "t", None, 0.0, 10.0),
        Span(1, "a", "t", 0, 1.0, 3.0),
        Span(2, "b", "t", 0, 2.0, 5.0),  # overlaps a
        Span(3, "c", "t", 0, 6.0, 7.0),
        Span(4, "c.child", "t", 3, 6.0, 6.5),
    ]
    tr.finish()
    assert [round(sp.self_s, 6) for sp in tr.spans] == [5.0, 2.0, 3.0, 0.5, 0.5]


def test_disabled_tracer_records_nothing():
    tr = Tracer(_FakeSpark(), enabled=False)
    with tr.span("x", trace_id="t") as sp:
        assert sp is None
    assert tr.spans == []


# ------------------------------------------------------------ entry point


def test_run_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_jobs", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_benchmark_json_names_every_metric_the_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    gated = [w["name"] for w in spec["workloads"]]
    assert gated == ["ingest_jobs", "query_mix"]
    assert all(w in workloads.WORKLOADS for w in gated)
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert e2e == {
        "throughput_per_s", "latency_ms", "out_bytes_per_in_byte", "peak_rss_mb",
        "spark_mem_peak_mb", "setup_s",
    }
    # every workload outside the gated set has its layers carried by one in it
    carried = {c for w in gated for c in workloads.WORKLOADS[w].CARRIES}
    assert carried == set(workloads.WORKLOADS) - set(gated)
    layers = {m["name"] for m in spec["per_layer"]}
    for prefix in ("curation.", "dedup.", "graph.", "packing."):
        assert any(n.startswith(prefix) for n in layers), prefix


def test_query_rotation_weights_every_per_job_kind_equally():
    counts = {k: workloads.JOB_ROTATION.count(k) for k in workloads.JOB_OPS}
    assert len(set(counts.values())) == 1, counts


def test_query_latency_moves_with_every_kind():
    w = workloads.QueryMix.__new__(workloads.QueryMix)
    base = {"tail": 0.2, "by_group_stats": 0.3, "list_groups": 0.4, "seek": 0.35}
    ops = [
        workloads.Op(k, base[k] + 0.001 * r, 1)
        for r in range(3)
        for k in workloads.JOB_ROTATION
    ]
    ref = w.end_to_end(ops)["latency_ms"]
    for kind in workloads.JOB_OPS:
        slow = [workloads.Op(o.kind, o.seconds * (2 if o.kind == kind else 1), 1) for o in ops]
        assert w.end_to_end(slow)["latency_ms"] > 1.1 * ref, kind


@pytest.mark.parametrize("n", [1, 2])
def test_corpus_labels_hold_by_a_wide_margin(n):
    corpus = gen_docs.generate_corpus(n, 400)
    for text, ok in zip(corpus.texts, corpus.passes):
        toks = text.split()
        has_stop = any(t.rstrip(".") in gen_docs.STOPWORDS for t in toks)
        mean_len = sum(map(len, toks)) / len(toks)
        symbols = sum(not (c.isalnum() or c.isspace()) for c in text) / len(text)
        passes = 10 <= len(toks) <= 1000 and 3 <= mean_len <= 10 and symbols <= 0.1 and has_stop
        assert passes == ok
