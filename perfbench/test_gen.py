"""Tests of the benchmark itself (no Spark): seeded inputs are
reproducible, layer self time subtracts child spans, and
BENCHMARK.json lists exactly the metrics run.py prints.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import hashlib
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(seed: int, root: str) -> None:
    gen.gen_bulk(random.Random(seed), f"{root}/bulk", 50)
    gen.gen_clean(random.Random(seed), f"{root}/clean", 80)
    corpus = gen.gen_corpus(random.Random(seed), f"{root}/corpus", 40)
    origins = [(d, t) for d, t in corpus["texts"].items() if d not in corpus["planted"]]
    gen.gen_batch(random.Random(f"{seed}:batch:0"), f"{root}/batches", 0, 1000, 20, origins)


def test_same_seed_gives_identical_files(tmp_path):
    _generate(7, f"{tmp_path}/a")
    _generate(7, f"{tmp_path}/b")
    a, b = _tree_digest(f"{tmp_path}/a"), _tree_digest(f"{tmp_path}/b")
    assert len(a) == 11  # worklist, 8 run CSVs, corpus, one batch
    assert a == b


def test_other_seed_gives_other_files(tmp_path):
    _generate(7, f"{tmp_path}/a")
    _generate(8, f"{tmp_path}/b")
    a, b = _tree_digest(f"{tmp_path}/a"), _tree_digest(f"{tmp_path}/b")
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_planted_duplicates_have_higher_ids_than_origins(tmp_path):
    corpus = gen.gen_corpus(random.Random(3), str(tmp_path), 400)
    texts = corpus["texts"]
    kinds = {k for k, _ in corpus["planted"].values()}
    assert kinds == {"exact", "near", "junk"}
    for d, (kind, origin) in corpus["planted"].items():
        if kind == "junk":
            assert len(texts[d].split()) < 10
            continue
        assert origin < d and origin not in corpus["planted"]
        if kind == "exact":
            assert texts[d].strip() == texts[origin]
        else:
            assert gen.jaccard(texts[d], texts[origin]) >= 0.8


@pytest.mark.parametrize("n,phones", [
    (1, "543424000001"),
    (1_127_188, "5434241127188, 154-1127-189"),
    (42, "543424000042"),
])
def test_bulk_phone_closed_form(n, phones):
    assert gen.bulk_expected_row(n)["telefonos"] == phones


def test_benchmark_json_matches_run():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128
    assert [w["name"] for w in spec["workloads"]] == ["lead_etl", "corpus_ingest"]


def test_self_time_subtracts_overlapping_children():
    tracer = Tracer(enabled=True)

    def add(name, layer, parent, start, end):
        s = Span(len(tracer.spans), name, layer, parent, "warm")
        s.start, s.end = start, end
        tracer.spans.append(s)
        return s.id

    root = add("job", "bench", None, 0.0, 10.0)
    add("a", "sources", root, 1.0, 4.0)
    b = add("b", "plans.pipeline", root, 3.0, 8.0)  # overlaps a by 1 s
    add("c", "io", b, 5.0, 6.0)
    assert tracer.self_times("warm") == pytest.approx(
        {"bench": 10.0 - 7.0, "sources": 3.0, "plans.pipeline": 4.0, "io": 1.0}
    )
    assert tracer.self_times("cold") == {}
