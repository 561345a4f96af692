"""Seeded benchmark inputs, generated outside Spark and cached by content key.

Two corpora, both with ground truth kept apart from what the program reads:

- ``flat``: (doc_id int64, text) rows with the shape of the ``documents``
  fixture that ``bench.py`` reads (profiled from its 5,000-doc sf0.1 file):
  texts of 10-99 tokens drawn uniformly from a 30-word vocabulary, and one
  row in 20 (random rows) replaced by a copy of another random row plus the
  token ``dup``. The fixture's ``lang``/``source``/``n_chars`` columns are
  left out: ``load_docs`` never reads them. The tiny vocabulary puts most
  docs into a few hot blocks, so the pipeline runs many Spark jobs per
  iteration on little data.
- ``synth``: ``sources.synth.generate_corpus`` (labeled duplicate groups,
  adversarial near-misses, a 20% "acme" hot block), already in spans form.

Each corpus is written once per (kind, n_docs, seed, generator source hash)
under the cache directory; a later run with the same key reuses it.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import random
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

FLAT_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
FLAT_DUP_SHARE = 0.05

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


def flat_corpus(n_docs: int, seed: int) -> tuple[pa.Table, dict[str, str]]:
    """(doc_id, text) table and doc_id -> entity truth; a ``dup`` row
    belongs to the entity of the text it copies."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(FLAT_VOCAB) for _ in range(rng.randrange(10, 100)))
        for _ in range(n_docs)
    ]
    entity = list(range(n_docs))
    for i in sorted(rng.sample(range(n_docs), round(n_docs * FLAT_DUP_SHARE))):
        src = rng.randrange(n_docs - 1)
        src += src >= i
        texts[i] = texts[src] + " dup"
        entity[i] = entity[src]
    table = pa.table(
        {"doc_id": pa.array(range(n_docs), pa.int64()), "text": texts}
    )
    return table, {str(i): str(e) for i, e in enumerate(entity)}


class _RowSink:
    """Stands in for the SparkSession that ``generate_corpus`` only uses to
    wrap its driver-side rows: returns the rows, so the corpus is built in
    plain Python and written with pyarrow instead of through a JVM."""

    @staticmethod
    def createDataFrame(rows, schema=None):  # noqa: N802 (SparkSession API)
        return rows


def synth_corpus(n_docs: int, seed: int) -> tuple[pa.Table, dict[str, str]]:
    from sneaky_data_matcher_spark.sources.synth import generate_corpus

    rows, _ = generate_corpus(_RowSink(), n_docs=n_docs, seed=seed)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.string()),
            "spans": pa.array(
                [
                    [
                        {"kind": k, "text": t, "media_ref": m, "offset": o}
                        for k, t, m, o in r[1]
                    ]
                    for r in rows
                ],
                SPAN_TYPE,
            ),
        }
    )
    return table, {r[0]: r[2] for r in rows}


_GENERATORS = {"flat": flat_corpus, "synth": synth_corpus}


def _source_tag(kind: str) -> str:
    h = hashlib.sha1(inspect.getsource(sys.modules[__name__]).encode())
    if kind == "synth":
        from sneaky_data_matcher_spark.sources import synth

        with open(synth.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def ensure_corpus(
    cache_dir: str, kind: str, n_docs: int, seed: int
) -> tuple[str, dict[str, str], float]:
    """Path of the cached docs parquet, the truth map, and the seconds spent
    generating it in this call (0.0 on a cache hit)."""
    d = os.path.join(cache_dir, f"{kind}-{n_docs}-{seed}-{_source_tag(kind)}")
    docs, truth = os.path.join(d, "docs.parquet"), os.path.join(d, "truth.json")
    if os.path.exists(truth):
        with open(truth) as f:
            return docs, json.load(f), 0.0
    t0 = time.perf_counter()
    table, entity = _GENERATORS[kind](n_docs, seed)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "docs.parquet"))
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(entity, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return docs, entity, time.perf_counter() - t0
