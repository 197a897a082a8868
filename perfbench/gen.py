"""Seeded message generator for the ``ingest_service`` workload.

Every micro-batch is the same fixed mix: reference-shaped events
(``globex.<stream>.<user>.<chat>...`` subjects, Zipf-skewed users, two
streams), document messages and embedding messages. Documents and
embeddings are drawn without repeats from the fixture. The whole stream
is a function of the seed: batch ``k`` is the same list of messages on
every run with that seed, whatever was generated before it.

Messages are emitted as replay-file lines (one JSON object per line with
the fields of ``sources.nats.JsMessage``), which the NATS source's replay
transport reads.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import random

STREAMS = ("supprt", "crmabc")
N_USERS = 500
#: per-batch mix: 10 % documents, 5 % embeddings, the rest events
DOC_SHARE = 0.10
VEC_SHARE = 0.05
ZIPF_S = 1.1
#: 2024-03-01T00:00:00Z; all timestamps stay inside March 2024 (one
#: month partition, so the idempotency check reads one hot partition)
BASE_US = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
STEP_US = 10_000_000  # 10 s between consecutive sequences
SUBJECTS = "globex.>,corpus.>"


def _zipf_cum_weights(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k**s) for k in range(1, n + 1)))


class MessageStream:
    """Deterministic batches of replay lines for one seed.

    ``docs`` rows are dicts with doc_id/text/lang/source/n_chars; ``vecs``
    rows are (vec_id, embedding) pairs."""

    def __init__(
        self,
        seed: int,
        docs: list[dict],
        vecs: list[tuple[int, list[float]]],
        batch_size: int = 1000,
    ) -> None:
        self.seed = seed
        self.batch_size = batch_size
        self.docs_per_batch = round(batch_size * DOC_SHARE)
        self.vecs_per_batch = round(batch_size * VEC_SHARE)
        self.events_per_batch = batch_size - self.docs_per_batch - self.vecs_per_batch
        rng = random.Random(f"draw:{seed}")
        self._docs = rng.sample(docs, len(docs))
        self._vecs = rng.sample(vecs, len(vecs))
        self.max_batches = min(
            len(self._docs) // max(1, self.docs_per_batch),
            len(self._vecs) // max(1, self.vecs_per_batch),
        )
        self._cum = _zipf_cum_weights(N_USERS, ZIPF_S)

    def doc_ids(self, n_batches: int) -> set[int]:
        """doc_ids published by the first ``n_batches`` batches."""
        return {d["doc_id"] for d in self._docs[: n_batches * self.docs_per_batch]}

    def batch(self, k: int) -> list[str]:
        """Replay lines of batch ``k`` (sequences k*batch_size+1 ...)."""
        if not 0 <= k < self.max_batches:
            raise IndexError(f"batch {k} outside 0..{self.max_batches - 1}")
        rng = random.Random(f"batch:{self.seed}:{k}")
        kinds = (
            ["event"] * self.events_per_batch
            + ["doc"] * self.docs_per_batch
            + ["vec"] * self.vecs_per_batch
        )
        rng.shuffle(kinds)
        docs = iter(self._docs[k * self.docs_per_batch:(k + 1) * self.docs_per_batch])
        vecs = iter(self._vecs[k * self.vecs_per_batch:(k + 1) * self.vecs_per_batch])
        lines = []
        for i, kind in enumerate(kinds):
            seq = k * self.batch_size + i + 1
            if kind == "event":
                subject, data = self._event(rng, seq)
            elif kind == "doc":
                subject, data = _doc_message(next(docs))
            else:
                subject, data = _vec_message(*next(vecs))
            lines.append(
                json.dumps(
                    {
                        "subject": subject,
                        "data": data,
                        "sequence": seq,
                        "timestamp_us": BASE_US + seq * STEP_US + rng.randrange(1000),
                        "metadata_json": "{}",
                    }
                )
            )
        return lines

    def _event(self, rng: random.Random, seq: int) -> tuple[str, str]:
        user = bisect.bisect_left(self._cum, rng.random() * self._cum[-1])
        stream = STREAMS[rng.random() < 0.35]
        subject = (
            f"globex.{stream}.u{user}.chat-{user * 7 % 97}"
            f".{rng.choice(('client', 'agent'))}.dst0"
            f".t{rng.randrange(3)}.ctx{rng.randrange(7)}"
        )
        data = json.dumps(
            {
                "text": f"msg-{seq}",
                "meta": f"m{rng.randrange(5)}",
                "id": str(seq),
                "timestamp": (BASE_US // 1_000_000) + seq * (STEP_US // 1_000_000),
                "value": rng.randrange(1000),
            }
        )
        return subject, data


def _doc_message(d: dict) -> tuple[str, str]:
    subject = f"corpus.{d['source']}.ingest.doc-{d['doc_id']}.batch"
    data = json.dumps(
        {
            "doc_id": d["doc_id"],
            "text": d["text"],
            "lang": d["lang"],
            "source": d["source"],
            "n_chars": d["n_chars"],
            "id": str(d["doc_id"]),
        }
    )
    return subject, data


def _vec_message(vec_id: int, emb: list[float]) -> tuple[str, str]:
    subject = f"corpus.embeddings.ingest.vec-{vec_id}.batch"
    data = json.dumps({"vec_id": vec_id, "embedding": emb, "id": str(vec_id)})
    return subject, data


def load_fixture(sf_dir: str) -> tuple[list[dict], list[tuple[int, list[float]]]]:
    """Documents and embeddings of a fixture dir, in file order."""
    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{sf_dir}/documents.parquet",
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_pylist()
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    vecs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in emb.to_pylist()
    ]
    return docs, vecs
