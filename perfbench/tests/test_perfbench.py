"""Tests of the benchmark's own code: generators, oracles, metric names and
the tail-percentile rule. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import json
import math
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _export_stream(rows):
    docs = [oracles.expected_document(r) for r in rows]
    return '<?xml version="1.0" encoding="utf-8"?><sphinx:docset>' + "".join(docs) + "\n</sphinx:docset>", docs


def test_generators_deterministic_per_seed_and_differ_across_seeds():
    assert gen.export_rows(3, 40) == gen.export_rows(3, 40)
    assert gen.export_rows(3, 40) != gen.export_rows(4, 40)
    assert gen.dedup_corpus(3, 5, 5) == gen.dedup_corpus(3, 5, 5)
    assert gen.dedup_corpus(3, 5, 5)[1] != gen.dedup_corpus(4, 5, 5)[1]
    a, b = gen.search_corpus(3, 50)[1], gen.search_corpus(4, 50)[1]
    assert np.array_equal(a, gen.search_corpus(3, 50)[1]) and not np.array_equal(a, b)
    q3 = gen.search_queries(3, 0)[1]
    assert np.array_equal(q3, gen.search_queries(3, 0)[1])
    assert not np.array_equal(q3, gen.search_queries(3, 1)[1])


def test_export_rows_cover_the_render_branches():
    rows = gen.export_rows(5, 400)
    keys = [(r["url"], r["pos"]) for r in rows]
    assert len(set(keys)) == len(keys)
    assert any(r["pos"] == 0 for r in rows)
    for col in ("body", "mem", "tags", "ts", "score", "blob"):
        assert any(r[col] is None for r in rows), col
    mems = [oracles.render_string(r["mem"]) for r in rows if r["mem"] is not None]
    cdata = sum(m.startswith("<![CDATA[") for m in mems)
    assert 0.3 < cdata / len(mems) < 0.7
    assert any("&amp;" in oracles.render_string(r["body"]) for r in rows if r["body"])


def test_export_oracle_accepts_expected_and_rejects_corruptions():
    rows = gen.export_rows(7, 30)
    ids = collections.Counter(oracles.doc_id(r) for r in rows)
    stream, docs = _export_stream(rows)
    assert oracles.split_docs(stream) == docs
    assert oracles.check_export(stream, list(reversed(docs)), rows, ids, 7) == []

    dropped = stream.replace(docs[3], "")
    assert oracles.check_export(dropped, docs, rows, ids, 7)
    assert oracles.check_export(stream.replace("utf-8", "UTF-8", 1), docs, rows, ids, 7)
    unescaped = stream.replace("&amp;", "&", 1) if "&amp;" in stream else stream.replace("</url>", "&</url>", 1)
    assert oracles.check_wellformed(unescaped)
    bad_id = docs[0].replace('id="', 'id="1', 1)
    assert oracles.check_ids([bad_id] + docs[1:], ids)
    assert oracles.check_same_docset(docs, docs[1:] + docs[:1] + ["\n<x/>"])
    assert oracles.check_envelope('<?xml version="1.0" encoding="utf-8"?><sphinx:docset>\n', "</sphinx:docset>") == []
    assert oracles.check_envelope('<?xml version="1.0" encoding="utf-8"?><sphinx:docset>', "</sphinx:docset>")
    field = docs[5].replace("<pos>", "<pos>9", 1)
    assert oracles.check_sample(docs[:5] + [field] + docs[6:], rows, 7, n=len(rows))


def test_render_matches_known_xmlpipe_output():
    import datetime as dt

    assert oracles.render_string("[[1, 2], [3]]") == "<![CDATA[<mem>1 2</mem><mem>3</mem>]]>"
    assert oracles.render_string("[[1,2]") == "[[1,2]"
    assert oracles.render_string("a<b & c>") == "a&lt;b &amp; c&gt;"
    ts = dt.datetime(2024, 3, 5, 14, 22, 1, tzinfo=dt.timezone.utc)
    assert oracles.render_field("ts", ts) == "<ts>Tue Mar 05 14:22:01 UTC 2024</ts>"
    assert oracles.render_field("blob", b"\x01\xab") == "<blob><![CDATA[01AB]]></blob>"
    assert oracles.render_field("tags", ["a", None, "b&"]) == "<tags>a  b&amp;</tags>"
    assert oracles.render_field("score", 12.5) == "<score>12.5</score>"


def test_dedup_oracle_rejects_cross_family_roster_and_counts_recall():
    ids, texts, family = gen.dedup_corpus(2, 3, 2)
    by_fam = collections.defaultdict(list)
    for i, f in family.items():
        by_fam[f].append(i)
    rosters = [sorted(by_fam[f]) for f in range(3)]
    assert oracles.check_rosters(rosters, family) == []
    assert oracles.dedup_recall(rosters, family) == 1.0
    merged = [rosters[0] + rosters[1], rosters[2]]
    assert oracles.check_rosters(merged, family)
    assert oracles.check_rosters(rosters + [[by_fam[3][0], by_fam[4][0]]], family)
    assert oracles.check_rosters([[123456789, rosters[0][0]]], family)
    partial = [rosters[0][:2], rosters[1], rosters[2]]
    assert oracles.dedup_recall(partial, family) < 1.0
    assert oracles.pair_precision([(rosters[0][0], rosters[0][1]), (rosters[0][0], rosters[1][0])], family) == 0.5


def test_search_oracle_accepts_exact_topk_and_rejects_wrong_answers():
    vec_ids, vecs = gen.search_corpus(1, 200)
    q_ids, q = gen.search_queries(1, 0, 4)
    c = vecs.astype(np.float64)
    cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    exact = {}
    for row, qid in enumerate(q_ids.tolist()):
        order = np.argsort(-cos[row], kind="stable")[:10]
        exact[qid] = [(int(v), float(cos[row, v])) for v in order]
    assert oracles.check_topk(exact, q_ids, q, vecs, 10) == []

    first = q_ids[0].item()
    worst = int(np.argmin(cos[0]))
    swapped = {**exact, first: exact[first][:-1] + [(worst, float(cos[0, worst]))]}
    assert oracles.check_topk(swapped, q_ids, q, vecs, 10)
    short = {**exact, first: exact[first][:9]}
    assert oracles.check_topk(short, q_ids, q, vecs, 10)
    off = {**exact, first: [(v, s + 1e-3) for v, s in exact[first]]}
    assert oracles.check_topk(off, q_ids, q, vecs, 10)
    reordered = {**exact, first: exact[first][::-1]}
    assert oracles.check_topk(reordered, q_ids, q, vecs, 10)


def test_metric_names_and_benchmark_json_match_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E
    assert layer == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} == {"export", "dedup", "search"}
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in bench["end_to_end"])


@pytest.mark.parametrize("n", [1, 5, 19, 20, 21, 37, 100, 101, 999])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    values = [float(v) for v in np.random.default_rng(n).permutation(n)]
    pct, value = run.tail(values)
    if n < 20:
        assert pct == 50 and value == float(np.median(values))
        return
    assert 50 <= pct < 100
    assert sum(v > value for v in values) >= 10
    # one percentile higher would leave fewer than ten samples beyond it
    assert n - math.ceil((pct + 1) * n / 100) < 10


def test_tail_percentile_at_100_samples_is_p90():
    assert run.tail([float(v) for v in range(1, 101)]) == (90, 90.0)
