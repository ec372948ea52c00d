"""Seeded benchmark inputs and their single-process reference outputs.

Everything here is plain Python + pyarrow: no Spark session is touched, so
input generation never lands inside a timed region.

The corpus is what ``sources.corpus.interleaved_corpus`` derives from a
``documents.parquet`` table: ``datagen.build_spans(doc_id, text)`` per doc.
That table is test data, not part of a checkout, so its texts are generated
here to the shape measured on the sf0.1 table (5,000 docs): 10 to 99 words drawn
uniformly from a 30-word vocabulary, and one doc in twenty is a near
duplicate, another doc's text plus the word "dup". The texts are the same for
every seed.

The seed decides
- the numeric doc-id offset, and with it which docs fall in the 1-in-50
  holdout of ``select_training_chunks`` (``doc_id % 50 == 0``) and the span
  layout ``build_spans`` draws from md5(doc_id);
- which tenth of the docs is "new" on the resume workload.

What the seed does not decide is the amount of work: every corpus holds the
same number of "giant" documents (datagen gives a doc 61 span groups when
md5(doc_id) says so, about one in ``GIANT_MOD``), spread evenly over the
input files. Left to chance, the giant count alone moved the span total by
about 15% from seed to seed. So the ids are the first ones from the offset
up that give that count, not a contiguous range.

Doc ids stay numeric strings: a non-numeric id makes the selection's
``try_cast("bigint")`` return NULL, which silently disables the holdout and
the 13-gram decontamination.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from docling_rag_spark.datagen import GIANT_MOD, build_spans
from docling_rag_spark.kernels.chunker import chunk_document, chunk_ids
from docling_rag_spark.kernels.extract import extract_document_oracle

HOLDOUT_MOD = 50  # operators.training_set.DECON_EVAL_MOD
N_DOCS = 1000
# Spark packs small files into one split per core, so the scan gets as many
# tasks as there are cores as long as there are at least that many files
N_FILES = 16
RESUME_NEW_FRAC = 0.1

# the word list of the sf0.1 documents table
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 99
NEAR_DUP_EVERY = 20
TEXT_SEED = 0  # fixed: the --seed changes the ids, not the texts

SPAN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
CORPUS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN))])
# pipeline.chunk_spans output columns, in order
CHUNKS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("chunk_index", pa.int32()),
        ("text", pa.string()),
        ("page_num", pa.int32()),
        ("n_tokens", pa.int32()),
        ("id", pa.string()),
    ]
)


@dataclass
class Inputs:
    seed: int
    doc_ids: list[str]
    corpus_dir: str
    # doc_id -> the generated input spans
    raw: dict[str, list[dict]] = field(repr=False)
    # doc_id -> [(order, kind, text, media_ref)] from extract_document_oracle
    spans: dict[str, list[tuple]] = field(repr=False)
    # doc_id -> chunk ids from chunker.chunk_document + chunk_ids
    chunk_ids: dict[str, list[str]] = field(repr=False)
    n_spans_in: int
    n_files: int
    input_bytes: int
    chunks_dir: str | None = None  # select_train input
    prior_input_dir: str | None = None  # extract_resume: the docs done before
    new_docs: frozenset[str] = frozenset()

    @property
    def all_chunk_ids(self) -> set[str]:
        return {c for ids in self.chunk_ids.values() for c in ids}

    @property
    def n_chunks(self) -> int:
        return sum(len(ids) for ids in self.chunk_ids.values())

    def summary(self) -> dict:
        return {
            "seed": self.seed,
            "docs": len(self.doc_ids),
            "holdout_docs": sum(int(d) % HOLDOUT_MOD == 0 for d in self.doc_ids),
            "spans_in": self.n_spans_in,
            "chunks": self.n_chunks,
            "files": self.n_files,
            "input_mb": round(self.input_bytes / 1e6, 3),
            "resume_new_docs": len(self.new_docs),
        }


def texts(n: int) -> list[str]:
    """``n`` document texts shaped like the sf0.1 documents table."""
    rng = random.Random(TEXT_SEED)
    out = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(MIN_WORDS, MAX_WORDS)))
        for _ in range(n)
    ]
    dups = rng.sample(range(n), n // NEAR_DUP_EVERY)
    originals = sorted(set(range(n)) - set(dups))
    for i in dups:
        out[i] = out[rng.choice(originals)] + " dup"
    return out


def reference(rows: list[dict]) -> tuple[dict, dict, list[dict]]:
    """Single-process outputs for corpus ``rows``: the oracle's spans and the
    chunk ids per doc, and the chunks table rows extract_job writes."""
    spans, ids, chunk_rows = {}, {}, []
    for r in rows:
        d = r["doc_id"]
        extracted = extract_document_oracle(r["spans"])
        spans[d] = [(o, k, t, ref) for (o, k, t, ref, _page) in extracted]
        chunks = chunk_document(extracted)
        ids[d] = chunk_ids(d, chunks)
        chunk_rows += [
            {**c, "doc_id": d, "id": cid} for c, cid in zip(chunks, ids[d])
        ]
    return spans, ids, chunk_rows


def _doc_ids(offset: int, n_docs: int) -> list[str]:
    """Ids from ``offset`` upwards holding exactly the expected number of
    giant docs, with the giants spaced evenly through the list."""
    n_giants = max(1, round(n_docs / GIANT_MOD))
    normal, giants = [], []
    i = offset
    while len(normal) < n_docs - n_giants or len(giants) < n_giants:
        d = str(i)
        i += 1
        # one span group is at most 6 spans; a giant has 1 + GIANT_REPEAT
        if len(build_spans(d, "x")) > 6:
            if len(giants) < n_giants:
                giants.append(d)
        elif len(normal) < n_docs - n_giants:
            normal.append(d)
    step = n_docs // n_giants
    for k, d in enumerate(giants):
        normal.insert(k * step + step // 2, d)
    return normal


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet files; return bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n_files)
    total = 0
    for k in range(n_files):
        path = os.path.join(out_dir, f"part-{k:04d}.parquet")
        pq.write_table(table.slice(k * per, per), path)
        total += os.path.getsize(path)
    return total


def make_inputs(
    seed: int,
    work_dir: str,
    workloads: tuple[str, ...],
    n_docs: int = N_DOCS,
    n_files: int = N_FILES,
) -> Inputs:
    """Generate the corpus for ``seed`` under ``work_dir`` and compute its
    reference outputs; add the extra inputs ``workloads`` need."""
    rng = random.Random(seed)
    offset = rng.randrange(1, 1_000_000) * 1000 + rng.randrange(HOLDOUT_MOD)
    doc_ids = _doc_ids(offset, n_docs)
    rows = [
        {"doc_id": d, "spans": build_spans(d, t)}
        for d, t in zip(doc_ids, texts(n_docs))
    ]
    corpus = pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA)
    corpus_dir = os.path.join(work_dir, "corpus")
    input_bytes = _write_split(corpus, corpus_dir, n_files)
    spans, ids, chunk_rows = reference(rows)
    inp = Inputs(
        seed=seed,
        doc_ids=doc_ids,
        corpus_dir=corpus_dir,
        spans=spans,
        chunk_ids=ids,
        raw={r["doc_id"]: r["spans"] for r in rows},
        n_spans_in=sum(len(r["spans"]) for r in rows),
        n_files=n_files,
        input_bytes=input_bytes,
    )
    if "select_train" in workloads:
        # the chunks table extract_full commits for this corpus; the extract
        # workloads' output check proves the job writes exactly these rows
        holdout = [d for d in doc_ids if int(d) % HOLDOUT_MOD == 0 and ids[d]]
        if not holdout:
            raise ValueError("select_train input holds no holdout doc")
        inp.chunks_dir = os.path.join(work_dir, "chunks")
        _write_split(
            pa.Table.from_pylist(chunk_rows, schema=CHUNKS_SCHEMA),
            inp.chunks_dir,
            n_files,
        )
    if "extract_resume" in workloads:
        new = rng.sample(doc_ids, max(1, int(n_docs * RESUME_NEW_FRAC)))
        inp.new_docs = frozenset(new)
        done = pa.array([d not in inp.new_docs for d in doc_ids])
        inp.prior_input_dir = os.path.join(work_dir, "prior_input")
        _write_split(corpus.filter(done), inp.prior_input_dir, n_files)
    return inp
