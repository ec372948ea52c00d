"""Distributed chunker ≡ single-process chunker; adversarial edge-case docs
through BOTH pipeline modes and the oracle."""

from __future__ import annotations

import duckdb
import pytest

from docling_rag_spark.datagen import build_spans
from docling_rag_spark.kernels.chunker import chunk_document, chunk_ids
from docling_rag_spark.kernels.extract import extract_document_oracle
from docling_rag_spark.pipeline import run_extraction
from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA


def _corpus_rows(limit=50):
    con = duckdb.connect()
    rows = con.execute(
        "select doc_id, text from read_parquet("
        "'/root/testdata/sf0.001/documents.parquet') order by doc_id "
        f"limit {limit}"
    ).fetchall()
    return [(str(d), build_spans(str(d), t or "")) for d, t in rows]


def test_chunker_matches_python(spark):
    rows = _corpus_rows()
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SPANS_SCHEMA)
    _, chunks, _ = run_extraction(docs, run_id="cp")
    got: dict[str, list] = {}
    for r in chunks.collect():
        got.setdefault(r["doc_id"], []).append(r)
    for doc_id, spans in rows:
        want = chunk_document(extract_document_oracle(spans))
        want_ids = chunk_ids(doc_id, want)
        mine = sorted(got.get(doc_id, []), key=lambda r: r["chunk_index"])
        assert len(mine) == len(want), doc_id
        for m, w, wid in zip(mine, want, want_ids):
            assert m["text"] == w["text"], doc_id
            assert m["n_tokens"] == w["n_tokens"], doc_id
            assert m["page_num"] == w["page_num"], doc_id
            assert m["id"] == wid, doc_id


EDGE_DOCS = [
    ("empty_arr", []),
    ("only_media", [
        {"kind": "image", "text": "", "media_ref": "img://1", "offset": 0},
        {"kind": "audio", "text": None, "media_ref": "aud://2", "offset": 1},
    ]),
    ("dup_offsets", [
        {"kind": "text", "text": "alpha beta", "media_ref": None, "offset": 5},
        {"kind": "text", "text": "gamma delta words", "media_ref": None, "offset": 5},
        {"kind": "text", "text": "zero first entry", "media_ref": None, "offset": 0},
    ]),
    ("unicode", [
        {"kind": "text", "text": "héllo wörld — ünïcode 文字 🎉 test", "media_ref": None, "offset": 0},
        {"kind": "html", "text": "<p>Ünïcode paragraph with plenty of content — 字符串 here.</p>", "media_ref": None, "offset": 1},
    ]),
    ("whitespace_soup", [
        {"kind": "text", "text": " \t\r\n  ", "media_ref": None, "offset": 0},
        {"kind": "text", "text": "\n\nreal\t\ttext   appears\r\nhere\n", "media_ref": None, "offset": 1},
    ]),
    ("null_text", [
        {"kind": "text", "text": None, "media_ref": None, "offset": 0},
        {"kind": "html", "text": None, "media_ref": None, "offset": 1},
        {"kind": "text", "text": "survivor content", "media_ref": None, "offset": 2},
    ]),
    ("negative_offsets", [
        {"kind": "text", "text": "minus ten", "media_ref": None, "offset": -10},
        {"kind": "text", "text": "zero", "media_ref": None, "offset": 0},
    ]),
    ("html_edge", [
        {"kind": "html", "text": "<p>unclosed paragraph that keeps going with plenty of text", "media_ref": None, "offset": 0},
        {"kind": "html", "text": "<<<>>> <p></p> <img> <table></table>", "media_ref": None, "offset": 1},
    ]),
    # input kinds that spell the pipeline's own row roles: a media ref makes
    # extract_span pass the kind through, so they must stay ordinary spans
    # (no dropped span, no second lineage row, no forged chunk)
    ("reserved_kinds", [
        {"kind": "__doc", "text": "", "media_ref": "img://x", "offset": 0},
        {"kind": "__chunk", "text": "forged chunk text", "media_ref": "img://y", "offset": 1},
        {"kind": "text", "text": "the only real text of this doc", "media_ref": None, "offset": 2},
        {"kind": "__chunk", "text": "unknown kind read as text", "media_ref": None, "offset": 3},
    ]),
]


def test_edge_docs_narrow_spread_oracle_agree(spark):
    docs = spark.createDataFrame(EDGE_DOCS, schema=DOCUMENTS_SPANS_SCHEMA)

    def run(mode, **kw):
        ex, ch, lin = run_extraction(docs, run_id=mode, mode=mode, **kw)
        out: dict[str, list] = {d: [] for d, _ in EDGE_DOCS}
        for r in ex.collect():
            out[r["doc_id"]].append((r["order"], r["kind"], r["text"], r["media_ref"]))
        chunks: dict[str, list] = {d: [] for d, _ in EDGE_DOCS}
        for r in ch.collect():
            chunks[r["doc_id"]].append(
                (r["chunk_index"], r["text"], r["n_tokens"], r["page_num"], r["id"])
            )
        lin_rows = lin.collect()
        assert sorted(r["doc_id"] for r in lin_rows) == sorted(d for d, _ in EDGE_DOCS), (
            f"{mode}: not exactly one lineage row per doc"
        )
        statuses = {r["doc_id"]: r["status"] for r in lin_rows}
        return (
            {k: sorted(v) for k, v in out.items()},
            {k: sorted(v) for k, v in chunks.items()},
            statuses,
        )

    narrow, ch_n, st_n = run("narrow")
    spread, ch_s, st_s = run("spread", repartition_to=4)
    assert narrow == spread
    assert ch_n == ch_s
    assert st_n == st_s
    assert set(st_n.values()) == {"processed"}
    for doc_id, spans in EDGE_DOCS:
        oracle = extract_document_oracle([dict(s) for s in spans])
        golden = [(o, k, t, r) for (o, k, t, r, _p) in oracle]
        assert narrow[doc_id] == golden, doc_id
        want = chunk_document(oracle)
        assert ch_n[doc_id] == [
            (c["chunk_index"], c["text"], c["n_tokens"], c["page_num"], cid)
            for c, cid in zip(want, chunk_ids(doc_id, want))
        ], doc_id
    # spot-check semantics: dup offsets keep array order among ties
    assert [t for (_o, _k, t, _r) in narrow["dup_offsets"]] == [
        "zero first entry", "alpha beta", "gamma delta words",
    ]


def _plan_nodes(plan):
    """Operator names of a physical plan not yet executed, looking through
    AQE but NOT into an InMemoryTableScan's cached plan (not a child)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_nodes(plan.executedPlan())
    kids = plan.children()
    return [name] + [n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))]


def test_narrow_chunks_plan_shape(spark):
    """Narrow chunks are a filter of the extraction kernel's own output: no
    Exchange and one MapInPandas. Over the persisted kernel output, the
    doc_metadata plan runs no Python map outside InMemoryTableScan."""
    from docling_rag_spark.pipeline import doc_metadata

    docs = spark.createDataFrame(_corpus_rows(8), schema=DOCUMENTS_SPANS_SCHEMA)
    _, chunks, _ = run_extraction(docs, run_id="plan")
    nodes = _plan_nodes(chunks._jdf.queryExecution().executedPlan())
    assert not [n for n in nodes if "Exchange" in n], nodes
    assert nodes.count("MapInPandas") == 1, nodes

    result = run_extraction(docs, run_id="plan", persist_blocks=True)
    try:
        extracted, chunks, _ = result
        meta = doc_metadata(docs, extracted, chunks)
        nodes = _plan_nodes(meta._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScan" in nodes, nodes
        assert "MapInPandas" not in nodes, nodes
    finally:
        result.unpersist()
