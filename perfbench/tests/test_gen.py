"""The message generator is a pure function of its seed."""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(__file__))))

from perfbench import gen  # noqa: E402

DOCS = [
    {"doc_id": i, "text": f"doc {i} text", "lang": "en", "source": f"src{i % 3}",
     "n_chars": 10 + i}
    for i in range(300)
]
VECS = [(i, [i / 7.0, -i / 3.0, 0.25]) for i in range(200)]


def _stream(seed: int) -> gen.MessageStream:
    return gen.MessageStream(seed, DOCS, VECS, batch_size=100)


def test_same_seed_same_batches():
    a, b = _stream(7), _stream(7)
    assert [a.batch(k) for k in range(3)] == [b.batch(k) for k in range(3)]


def test_batch_does_not_depend_on_generation_order():
    a, b = _stream(7), _stream(7)
    later_first = b.batch(2)
    a.batch(0)
    a.batch(1)
    assert a.batch(2) == later_first


def test_other_seed_other_batches():
    assert _stream(7).batch(0) != _stream(8).batch(0)


def test_fixed_mix_and_contiguous_sequences():
    s = _stream(3)
    rows = [json.loads(line) for line in s.batch(1)]
    assert [r["sequence"] for r in rows] == list(range(101, 201))
    kinds = [r["subject"].split(".")[0] for r in rows]
    assert kinds.count("globex") == 85
    vec_subjects = [r for r in rows if r["subject"].startswith("corpus.embeddings.")]
    assert len(vec_subjects) == 5
    assert kinds.count("corpus") == 15
    for r in rows:
        assert set(r) == {"subject", "data", "sequence", "timestamp_us", "metadata_json"}


def test_docs_and_vectors_drawn_without_repeats():
    s = _stream(5)
    doc_ids, vec_ids = [], []
    for k in range(s.max_batches):
        for line in s.batch(k):
            r = json.loads(line)
            data = json.loads(r["data"])
            if ".ingest.doc-" in r["subject"]:
                doc_ids.append(data["doc_id"])
            elif ".ingest.vec-" in r["subject"]:
                vec_ids.append(data["vec_id"])
    assert len(doc_ids) == len(set(doc_ids))
    assert len(vec_ids) == len(set(vec_ids))
    assert set(doc_ids) == s.doc_ids(s.max_batches)


def test_timestamps_stay_in_one_month():
    s = _stream(1)
    last = s.batch(s.max_batches - 1)
    for line in (s.batch(0)[0], last[-1]):
        ts = dt.datetime.fromtimestamp(
            json.loads(line)["timestamp_us"] / 1e6, tz=dt.timezone.utc
        )
        assert (ts.year, ts.month) == (2024, 3)
