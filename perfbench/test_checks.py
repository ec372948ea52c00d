"""The output checks catch a corrupted output.

    python3 -m pytest perfbench/test_checks.py -q

Outputs are built from the single-process reference with pyarrow (no Spark
session), checked once as written, then with one row corrupted.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
from inputs import HOLDOUT_MOD, make_inputs


@pytest.fixture(scope="module")
def inp(tmp_path_factory):
    return make_inputs(7, str(tmp_path_factory.mktemp("in")), ("select_train",), 60, 2)


def _write(root: str, table: str, rows: list[dict]) -> None:
    os.makedirs(os.path.join(root, table), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(root, table, "part-0.parquet"))


def _extract_output(root: str, inp, run_id: str) -> None:
    _write(root, "extracted_spans", [
        {"doc_id": d, "order": o, "kind": k, "text": t, "media_ref": r}
        for d, seq in inp.spans.items() for (o, k, t, r) in seq
    ])
    _write(root, "chunks", [
        {"doc_id": d, "id": c} for d, ids in inp.chunk_ids.items() for c in ids
    ])
    _write(root, "doc_metadata", [{"doc_id": d} for d in inp.doc_ids])
    _write(root, "lineage", [
        {"run_id": run_id, "doc_id": d, "status": "processed"} for d in inp.doc_ids
    ])


def _select_output(root: str, inp, run_id: str) -> None:
    train = {d: ids for d, ids in inp.chunk_ids.items()
             if ids and int(d) % HOLDOUT_MOD != 0}
    _write(root, "selected_chunks", [
        {"id": ids[0], "doc_id": d} for d, ids in train.items()
    ])
    _write(root, "selection_lineage", [
        {"run_id": run_id, "doc_id": d,
         "status": "selected" if d in train else "filtered"}
        for d, ids in inp.chunk_ids.items() if ids
    ])


def _edit(root: str, table: str, fn) -> None:
    path = os.path.join(root, table, "part-0.parquet")
    rows = pq.read_table(path).to_pylist()
    pq.write_table(pa.Table.from_pylist(fn(rows)), path)


def _set_text(rows):
    rows[0]["text"] += " changed"
    return rows


def _add_holdout_chunk(rows, inp):
    d = next(d for d, ids in inp.chunk_ids.items()
             if ids and int(d) % HOLDOUT_MOD == 0)
    return rows + [{"id": inp.chunk_ids[d][0], "doc_id": d}]


@pytest.mark.parametrize("table, corrupt", [
    ("extracted_spans", _set_text),
    ("chunks", lambda rows: rows + rows[:1]),
    ("doc_metadata", lambda rows: rows[1:]),
    ("lineage", lambda rows: rows + [{**rows[0], "run_id": "again"}]),
])
def test_extract_check_catches_corruption(tmp_path, inp, table, corrupt):
    out = str(tmp_path / "out")
    _extract_output(out, inp, "r1")
    docs = set(inp.doc_ids)
    committed, counts = checks.check_extract(out, inp, "r1", docs, docs)
    assert committed == counts["lineage"] == len(docs)
    _edit(out, table, corrupt)
    with pytest.raises(checks.CheckFailed):
        checks.check_extract(out, inp, "r1", docs, docs)


@pytest.mark.parametrize("table, corrupt", [
    ("selected_chunks", None),
    ("selected_chunks", lambda rows: rows + [{"id": "0" * 32, "doc_id": rows[0]["doc_id"]}]),
    ("selection_lineage", lambda rows: rows[1:]),
])
def test_select_check_catches_corruption(tmp_path, inp, table, corrupt):
    out = str(tmp_path / "out")
    _select_output(out, inp, "r1")
    committed, _outputs = checks.check_select(out, inp, "r1")
    assert committed == sum(1 for ids in inp.chunk_ids.values() if ids)
    _edit(out, table, corrupt or (lambda rows: _add_holdout_chunk(rows, inp)))
    with pytest.raises(checks.CheckFailed):
        checks.check_select(out, inp, "r1")


def test_input_keeps_numeric_ids_and_holdout_docs(inp):
    assert all(d.isdigit() for d in inp.doc_ids)
    holdout = [d for d in inp.doc_ids if int(d) % HOLDOUT_MOD == 0]
    assert holdout and all(inp.chunk_ids[d] for d in holdout)


def test_texts_have_the_documents_table_shape():
    from inputs import MAX_WORDS, MIN_WORDS, NEAR_DUP_EVERY, VOCAB, texts

    got = texts(400)
    assert got == texts(400)
    dups = [t for t in got if t.endswith(" dup")]
    assert len(dups) == 400 // NEAR_DUP_EVERY
    assert all(t[: -len(" dup")] in got for t in dups)
    for t in got:
        words = t.removesuffix(" dup").split()
        assert MIN_WORDS <= len(words) <= MAX_WORDS and set(words) <= set(VOCAB)


def test_seed_changes_the_ids_not_the_texts(tmp_path):
    a = make_inputs(1, str(tmp_path / "a"), (), 40, 2)
    b = make_inputs(2, str(tmp_path / "b"), (), 40, 2)
    assert set(a.doc_ids).isdisjoint(b.doc_ids)

    def text_of(inp, d):  # the doc's first span is "<text piece> intro segment 0"
        return next(s["text"] for s in inp.raw[d] if s["offset"] == 0)

    assert [text_of(a, d) for d in a.doc_ids] == [text_of(b, d) for d in b.doc_ids]
