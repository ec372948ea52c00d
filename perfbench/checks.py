"""Output checks, one per workload, run on every rep outside the timed region.

Outputs are read back with pyarrow, so a check adds no Spark job to the
session being measured. Each check returns the number of documents the rep
committed (lineage rows carrying the rep's run id) with the row count of
every output table, and raises ``CheckFailed`` on the first mismatch.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pyarrow.dataset as ds

from inputs import HOLDOUT_MOD, Inputs


class CheckFailed(AssertionError):
    pass


def _rows(path: str, cols: list[str]) -> list[tuple]:
    t = ds.dataset(path, format="parquet").to_table(columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _no_duplicates(keys: list, table: str) -> None:
    dup = [k for k, n in Counter(keys).items() if n > 1]
    _require(not dup, f"{table}: {len(dup)} duplicate keys, e.g. {dup[:1]}")


def check_extract(
    out: str, inp: Inputs, run_id: str, docs: set[str], expect_new: set[str]
) -> tuple[int, dict]:
    """The four extract_job tables against the single-process reference for
    ``docs``, the documents the output must hold; ``expect_new`` are the ones
    this rep must have committed.

    Covers prior rows plus this rep's rows, so on ``--resume`` it proves the
    resumed output equals a full run's, with no duplicate key."""
    spans = _rows(
        os.path.join(out, "extracted_spans"),
        ["doc_id", "order", "kind", "text", "media_ref"],
    )
    _no_duplicates([s[:2] for s in spans], "extracted_spans")
    want = {(d, *s) for d in docs for s in inp.spans[d]}
    got = set(spans)
    _require(
        got == want,
        f"extracted_spans: {len(want - got)} reference spans missing, "
        f"{len(got - want)} unexpected",
    )

    chunks = _rows(os.path.join(out, "chunks"), ["doc_id", "id"])
    _no_duplicates([c[1] for c in chunks], "chunks")
    want_chunks = {(d, c) for d in docs for c in inp.chunk_ids[d]}
    _require(set(chunks) == want_chunks, "chunks: ids differ from chunk_document")

    meta = [r[0] for r in _rows(os.path.join(out, "doc_metadata"), ["doc_id"])]
    _no_duplicates(meta, "doc_metadata")
    _require(set(meta) == docs, "doc_metadata: doc set differs from input")

    lineage = _rows(os.path.join(out, "lineage"), ["run_id", "doc_id", "status"])
    _no_duplicates([r[1] for r in lineage], "lineage (a doc processed twice)")
    _require(
        {r[1] for r in lineage if r[2] == "processed"} == docs,
        "lineage: not every input doc is processed",
    )
    this_run = {r[1] for r in lineage if r[0] == run_id}
    _require(this_run == expect_new, "lineage: this run committed the wrong docs")
    return len(this_run), {"extracted_spans": len(spans), "chunks": len(chunks),
                           "doc_metadata": len(meta), "lineage": len(lineage)}


def check_select(out: str, inp: Inputs, run_id: str) -> tuple[int, dict]:
    """selected_chunks / selection_lineage invariants; the counts come with a
    digest of the selected ids (equal on every rep)."""
    sel = _rows(os.path.join(out, "selected_chunks"), ["id", "doc_id"])
    ids = [r[0] for r in sel]
    _require(bool(ids), "selected_chunks: nothing selected")
    _no_duplicates(ids, "selected_chunks")
    _require(set(ids) <= inp.all_chunk_ids, "selected_chunks: id not in input")
    _require(
        all(int(d) % HOLDOUT_MOD != 0 for _, d in sel),
        "selected_chunks: a holdout doc was selected",
    )
    lineage = _rows(
        os.path.join(out, "selection_lineage"), ["run_id", "doc_id", "status"]
    )
    _no_duplicates([r[1] for r in lineage], "selection_lineage")
    chunked = {d for d, c in inp.chunk_ids.items() if c}
    _require(
        {r[1] for r in lineage} == chunked,
        "selection_lineage: does not cover each input doc once",
    )
    _require(
        {r[1] for r in lineage if r[2] == "selected"} == {d for _, d in sel},
        "selection_lineage: 'selected' docs differ from selected_chunks",
    )
    digest = hashlib.md5("\n".join(sorted(ids)).encode()).hexdigest()
    return sum(r[0] == run_id for r in lineage), {
        "selected_chunks": len(ids), "selection_lineage": len(lineage),
        "digest": digest}
