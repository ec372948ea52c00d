"""jobs/extract_job.py run in-process: the closing summary line, and no
cached relation left behind once the lineage is committed."""

from __future__ import annotations

import ast
import re
import sys

from docling_rag_spark.datagen import build_spans
from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA


def test_extract_job_summary_and_cache_release(
    spark, tmp_path, monkeypatch, capsys, cached_relations
):
    import jobs.extract_job as J

    rows = [
        (str(i), build_spans(str(i), f"word{i} stories of the old town and the river {i}"))
        for i in range(12)
    ]
    # a malformed PDF fails its doc, so --resume picks it up again
    rows.append(("bad", [{"kind": "pdf", "text": "not a minipdf", "media_ref": None,
                          "offset": 0}]))
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema=DOCUMENTS_SPANS_SCHEMA).write.parquet(inp)
    out = str(tmp_path / "out")
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    before = cached_relations()
    summaries = []
    for run_id, extra in (("r1", []), ("r2", ["--resume"])):
        monkeypatch.setattr(sys, "argv", [
            "extract_job.py", "--input", inp, "--output", out, "--run-id", run_id,
            *extra,
        ])
        J.main()
        line = [
            ln for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("extract_job done")
        ]
        m = re.fullmatch(
            r"extract_job done run_id=(\S+) docs_this_run=(\d+) lineage_total=(\{.*\})",
            line[-1],
        )
        summaries.append((m[1], int(m[2]), ast.literal_eval(m[3])))
    assert cached_relations() == before
    assert summaries == [
        ("r1", 13, {"processed": 12, "failed": 1}),
        ("r2", 1, {"processed": 12, "failed": 2}),
    ]
