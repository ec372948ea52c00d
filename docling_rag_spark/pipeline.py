"""The extraction pipeline: interleaved documents → ordered spans → chunks.

Replaces the reference's single-process orchestration
(reference src/ingestion/pipeline.py:13-54 — load → chunk → metadata →
embed → insert) with one declarative DataFrame DAG, in two interchangeable
physical shapes (identical output, tested):

NARROW (default — zero shuffles for extraction, chunking and lineage):
    read input table
      → [resume anti-join on lineage]             (E16, postgres.py:253-262)
      → mapInPandas(whole-doc kernel)             (Arrow-vectorized; ordering
         computed in-kernel; the ordered blocks feed the shared ChunkPacker
         in the same pass — reference HybridChunker analog,
         src/ingestion/chunker.py:45-55)
      → one output of span, chunk and per-doc lineage rows, told apart by
        an out-of-band row_type column; each table is a filter of it

SPREAD (giant-document skew defuse — the north-rule salting path):
    … → posexplode(spans) → round-robin repartition (one doc's 10^4 spans
    become 10^4 rows spread over all tasks) → mapInPandas(per-span kernel)
    → window row_number over (doc_id | offset, span_idx, block_seq)
    → chunk_spans: doc_id shuffle + sort → mapInPandas(the same ChunkPacker)
      (a doc's spans are split across tasks here, so chunking needs them
      brought back together)

Scale notes (100 TB):
- Extraction is embarrassingly parallel per document → narrow is default;
  spread's repartition + ordering window shuffle every payload byte and
  sort the extracted text (measured shuffle-I/O-bound at any core count).
  Pick spread only when single documents are large enough to straggle a
  task (SURVEY.md §7.3 #3).
- Everything after the kernels is pure relational (whole-stage codegen).
  With the narrow kernel output persisted, extract_job's four tables
  (spans, chunks, doc_metadata, lineage) all come from one kernel pass.
- See BENCH.md "What made it scale" for the measured pitfalls (task.cpus,
  many-file input, self-referencing-join kernel re-execution).
"""

from __future__ import annotations

import traceback
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions.text import detect_language_col
from .kernels.extract import extract_span


if TYPE_CHECKING:
    import pandas as pd

MAX_TOKENS = 512  # reference src/config.py:34


# --------------------------------------------------------------------------
# stage 1: explode spans (narrow)
# --------------------------------------------------------------------------
def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) → one row per span, carrying n_spans_in for lineage."""
    return docs.select(
        "doc_id",
        # greatest(...,0): size(NULL)=NULL and legacy -1 — narrow reports 0
        F.greatest(F.coalesce(F.size("spans"), F.lit(0)), F.lit(0)).alias(
            "n_spans_in"
        ),
        F.posexplode_outer("spans").alias("span_idx", "span"),
    ).select(
        "doc_id",
        "n_spans_in",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.coalesce(F.col("span.offset"), F.lit(0)).alias("offset"),
    )


# --------------------------------------------------------------------------
# stage 2: the extraction kernel (mapInPandas)
# --------------------------------------------------------------------------
def _extract_kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """Arrow-batched span extraction. One input span row → N block rows.

    Per-span errors become dead-letter rows (error column set) instead of
    failing the task — the reference's DocumentLoadError taxonomy
    (src/ingestion/document.py:191-203, src/models.py) as data.
    """
    import pandas as pd
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId() if TaskContext.get() else -1
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "doc_id", "offset", "span_idx", "block_seq", "kind", "text",
            "media_ref", "page_num", "error", "n_spans_in", "partition_id")}
        for doc_id, off, sidx, kind, text, ref, n_in in zip(
            pdf["doc_id"], pdf["offset"], pdf["span_idx"], pdf["kind"],
            pdf["text"], pdf["media_ref"], pdf["n_spans_in"]
        ):
            try:
                blocks = extract_span(kind, text, ref)
            except Exception:
                blocks = [("error", traceback.format_exc(limit=2), None, None)]
            emitted = False
            for seq, (k, t, r, page) in enumerate(blocks):
                emitted = True
                err = t if k == "error" else None
                out["doc_id"].append(doc_id)
                out["offset"].append(off)
                out["span_idx"].append(sidx)
                out["block_seq"].append(seq)
                out["kind"].append("error" if err else k)
                out["text"].append(None if err else t)
                out["media_ref"].append(r)
                out["page_num"].append(page)
                out["error"].append(err)
                out["n_spans_in"].append(n_in)
                out["partition_id"].append(pid)
            if not emitted:
                # keep lineage complete: a span that extracts to nothing
                # still counts toward its document
                out["doc_id"].append(doc_id)
                out["offset"].append(off)
                out["span_idx"].append(sidx)
                out["block_seq"].append(-1)
                out["kind"].append("empty")
                out["text"].append(None)
                out["media_ref"].append(None)
                out["page_num"].append(None)
                out["error"].append(None)
                out["n_spans_in"].append(n_in)
                out["partition_id"].append(pid)
        yield pd.DataFrame(out)


_KERNEL_SCHEMA = (
    "doc_id string, offset int, span_idx int, block_seq int, kind string, "
    "text string, media_ref string, page_num int, error string, "
    "n_spans_in int, partition_id int"
)


SALT_BUCKETS = 16


def extract_blocks(
    spans: DataFrame, repartition_to: int | None = None, salt: str = "roundrobin"
) -> DataFrame:
    """Span rows → block rows.

    ``repartition_to``: repartition width before the kernel — the
    giant-document skew defuse (one doc's spans spread over all tasks).
    * None (default): no shuffle — scan splits provide the parallelism
      (a many-file Iceberg table at 100 TB is already well-split; shuffling
      every raw payload byte would dominate the job).
    * N > 0: explicit shuffle to N partitions (the north-rule salting knob).

    ``salt`` picks the spread strategy:
    * ``roundrobin``: maximum spread — every span lands anywhere; best when
      a handful of giants dominate.
    * ``keyed``: deterministic hash of (doc_id, span_idx % SALT_BUCKETS) —
      a giant doc fans out over at most SALT_BUCKETS tasks while normal
      docs stay (mostly) co-located, preserving doc-locality for fused
      downstream stages; the classic salted-key recipe.
    """
    if repartition_to:
        if salt == "keyed":
            spans = spans.repartition(
                repartition_to,
                F.col("doc_id"),
                F.col("span_idx") % SALT_BUCKETS,
            )
        else:
            spans = spans.repartition(repartition_to)
    return spans.mapInPandas(_extract_kernel, schema=_KERNEL_SCHEMA)


# --------------------------------------------------------------------------
# narrow path: whole-document kernel (zero-shuffle extraction + chunking)
# --------------------------------------------------------------------------
# row_type of the narrow kernel's output rows. The role of a row travels in
# its own column, never in `kind`: an input span may carry any kind string,
# and extract_span passes unknown media kinds through unchanged.
SPAN_ROW, CHUNK_ROW, DOC_ROW = 0, 1, 2

_NARROW_SCHEMA = (
    "row_type tinyint, doc_id string, order int, kind string, text string, "
    "media_ref string, page_num int, n_tokens int, error string, "
    "n_spans_in long, partition_id int"
)


def _extract_doc_kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """Whole-document extraction: one input row (doc_id, spans[]) → the
    document's ordered span rows, its chunk rows and one lineage row, told
    apart by ``row_type``. Order is computed in-kernel (the oracle logic
    itself — equality with the single-process oracle holds by construction),
    and the document's blocks feed the shared ChunkPacker in that order, so
    chunking needs no shuffle and no second Python pass.

    SPAN_ROW: (order, kind, text, media_ref, page_num) of one block.
    CHUNK_ROW: order = chunk_index; text, page_num, n_tokens of one chunk.
    DOC_ROW: lineage — error, n_spans_in, n_blocks_out (in `order`).
    Failed docs emit ONLY the DOC_ROW (no partial output).
    """
    import pandas as pd
    from pyspark import TaskContext

    from .kernels.chunker import ChunkPacker
    from .kernels.extract import extract_span

    pid = TaskContext.get().partitionId() if TaskContext.get() else -1
    cols = ("row_type", "doc_id", "order", "kind", "text", "media_ref",
            "page_num", "n_tokens", "error", "n_spans_in", "partition_id")
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in cols}

        def emit(row_type, doc_id, order, kind, text, ref, page, n_tok, err, n_in):
            out["row_type"].append(row_type)
            out["doc_id"].append(doc_id)
            out["order"].append(order)
            out["kind"].append(kind)
            out["text"].append(text)
            out["media_ref"].append(ref)
            out["page_num"].append(page)
            out["n_tokens"].append(n_tok)
            out["error"].append(err)
            out["n_spans_in"].append(n_in)
            out["partition_id"].append(pid)

        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            span_list = list(spans) if spans is not None else []
            n_in = len(span_list)
            # same traversal as kernels.extract.extract_document_oracle,
            # with per-span errors promoted to doc failure (dead letter)
            indexed = sorted(
                enumerate(span_list),
                key=lambda p: ((p[1].get("offset") or 0), p[0]),
            )
            blocks: list = []
            err = None
            try:
                for _, s in indexed:
                    for k, t, r, page in extract_span(
                        s.get("kind"), s.get("text"), s.get("media_ref")
                    ):
                        if k == "error":
                            err = t
                            break
                        blocks.append((k, t, r, page))
                    if err:
                        break
            except Exception:
                err = traceback.format_exc(limit=2)
            if err is None:
                packer = ChunkPacker(MAX_TOKENS)
                for order, (kind, text, ref, page) in enumerate(blocks):
                    emit(SPAN_ROW, doc_id, order, kind, text, ref, page, None, None, n_in)
                    packer.add(kind, text, page)
                for c in packer.finish():
                    emit(CHUNK_ROW, doc_id, c["chunk_index"], None, c["text"], None,
                         c["page_num"], c["n_tokens"], None, n_in)
                emit(DOC_ROW, doc_id, len(blocks), None, None, None, None, None, None, n_in)
            else:
                emit(DOC_ROW, doc_id, 0, None, None, None, None, None, err, n_in)
        yield pd.DataFrame(out)


def extract_documents_narrow(docs: DataFrame) -> DataFrame:
    """Zero-shuffle extraction and chunking over whole-document rows (the
    kernel's raw output: span, chunk and lineage rows by ``row_type``). The
    default path: extraction is embarrassingly parallel per document, so
    shuffling raw payload bytes (spread path) is pure overhead unless the
    input files are few/skewed. A giant document is one task's straggler
    here — switch to the spread path when that dominates (SURVEY.md §7.3 #3)."""
    return docs.mapInPandas(_extract_doc_kernel, schema=_NARROW_SCHEMA)


# --------------------------------------------------------------------------
# stage 3 (spread path): total per-document span order (window)
# --------------------------------------------------------------------------
def order_spans(blocks: DataFrame, drop_failed_docs: bool = True) -> DataFrame:
    """Blocks → the FIXTURES.md F2 output: 0-based total order per doc.

    Never relies on batch arrival order (SURVEY.md §7.3 #4): the order is
    recomputed from (offset, span_idx, block_seq) after the shuffle.

    Failed-document exclusion is a SECOND window over the SAME partitioning
    (doc_id) — one exchange serves both — NOT an anti-join against a
    `blocks.filter(error)` branch: a self-referencing join re-executes the
    whole extraction kernel per branch (measured 2× kernel cost per job).
    """
    doc_w = Window.partitionBy("doc_id")
    order_w = doc_w.orderBy("offset", "span_idx", "block_seq")
    if drop_failed_docs:
        blocks = blocks.withColumn(
            "_doc_failed",
            F.max(F.col("error").isNotNull().cast("int")).over(doc_w),
        ).filter(F.col("_doc_failed") == 0)
    real = blocks.filter(~F.col("kind").isin("error", "empty"))
    return real.select(
        "doc_id",
        (F.row_number().over(order_w) - 1).alias("order"),
        "kind",
        "text",
        "media_ref",
        "page_num",
    )


# --------------------------------------------------------------------------
# stage 4 (spread path, and any ordered-spans table): chunk assembly
# (heading-aware greedy packing — frozen spec v2, kernels/chunker.py).
# Greedy packing with heading resets is sequentially dependent per document,
# which windows cannot express (prefix-sum binning — the v1 spec — let
# chunks exceed max_tokens when a span straddled a boundary). Physical
# shape: ONE hash shuffle on doc_id + in-partition sort, then a single-pass
# Arrow kernel that streams state across batch boundaries. The narrow path
# needs none of this: its kernel already holds each whole document and runs
# the same ChunkPacker in place.
# --------------------------------------------------------------------------
_CHUNK_SCHEMA = (
    "doc_id string, chunk_index int, text string, page_num int, n_tokens int"
)


def _chunk_kernel(
    batches: Iterator["pd.DataFrame"], max_tokens: int = MAX_TOKENS
) -> Iterator["pd.DataFrame"]:
    """Per-partition streaming packer: input rows arrive clustered by doc_id
    and sorted by (doc_id, order); ChunkPacker state carries a document
    across Arrow batch boundaries (a giant doc never needs to fit one
    batch)."""
    import pandas as pd

    from .kernels.chunker import ChunkPacker

    cols = ("doc_id", "chunk_index", "text", "page_num", "n_tokens")
    out: dict[str, list] = {k: [] for k in cols}
    cur_doc, packer = None, None

    def finish_doc() -> None:
        if packer is None:
            return
        for c in packer.finish():
            out["doc_id"].append(cur_doc)
            out["chunk_index"].append(c["chunk_index"])
            out["text"].append(c["text"])
            out["page_num"].append(c["page_num"])
            out["n_tokens"].append(c["n_tokens"])

    for pdf in batches:
        for doc_id, kind, text, page in zip(
            pdf["doc_id"], pdf["kind"], pdf["text"], pdf["page_num"]
        ):
            if doc_id != cur_doc:
                finish_doc()
                cur_doc, packer = doc_id, ChunkPacker(max_tokens)
            packer.add(kind, text, None if pd.isna(page) else int(page))
        if len(out["doc_id"]) >= 8192:  # bound kernel memory on huge partitions
            yield pd.DataFrame(out)
            out = {k: [] for k in cols}
    finish_doc()
    yield pd.DataFrame(out)


def chunk_spans(extracted: DataFrame, max_tokens: int = MAX_TOKENS) -> DataFrame:
    """Ordered spans → chunks table (reference HybridChunker semantics:
    heading-aware greedy packing — SURVEY.md §2.2 E11-E13; frozen spec v2 in
    kernels/chunker.py, shared with the single-process oracle).

    Only chunkable spans (kind/text filter pushed to the scan) are shuffled;
    id = md5('{doc_id}_{chunk_index}_{text}') stays a codegen expression.
    """
    chunkable = extracted.filter(
        F.col("kind").isin("heading", "text", "table")
        & F.col("text").isNotNull()
        & (F.length("text") > 0)
    ).select("doc_id", "order", "kind", "text", "page_num")
    from functools import partial

    clustered = chunkable.repartition("doc_id").sortWithinPartitions(
        "doc_id", "order"
    )
    kernel = partial(_chunk_kernel, max_tokens=max_tokens)
    return _with_chunk_id(clustered.mapInPandas(kernel, schema=_CHUNK_SCHEMA))


def _with_chunk_id(chunks: DataFrame) -> DataFrame:
    """Append id = md5('{doc_id}_{chunk_index}_{text}') (reference recipe)."""
    return chunks.withColumn(
        "id",
        F.md5(F.concat_ws("_", F.col("doc_id"), F.col("chunk_index"), F.col("text"))),
    )


# --------------------------------------------------------------------------
# per-document metadata (reference extract_metadata, document.py:206-221)
# --------------------------------------------------------------------------
def doc_metadata(docs: DataFrame, extracted: DataFrame, chunks: DataFrame) -> DataFrame:
    """doc_type from input span kinds (pdf > html > txt precedence — the
    analog of file-extension doc_type, document.py:210); language from the
    first 500 chars of the first chunk (document.py:212-218)."""
    kinds = docs.select(
        "doc_id",
        F.when(F.exists("spans", lambda s: s["kind"] == "pdf"), "pdf")
        .when(F.exists("spans", lambda s: s["kind"] == "html"), "html")
        .otherwise("txt")
        .alias("doc_type"),
    )
    lang = (
        chunks.filter(F.col("chunk_index") == 0)
        .select("doc_id", detect_language_col(F.col("text")).alias("language"))
    )
    counts = chunks.groupBy("doc_id").agg(
        F.count("*").alias("num_chunks"), F.sum("n_tokens").alias("num_tokens")
    )
    pages = extracted.groupBy("doc_id").agg(F.max("page_num").alias("num_pages"))
    return (
        kinds.join(lang, "doc_id", "left")
        .join(counts, "doc_id", "left")
        .join(pages, "doc_id", "left")
        .withColumn("language", F.coalesce("language", F.lit("en")))
        .withColumn("num_chunks", F.coalesce("num_chunks", F.lit(0)))
    )


# --------------------------------------------------------------------------
# lineage + resume (north_rule; reference skip-if-ingested, E16/E17)
# --------------------------------------------------------------------------
def _run_ts_col(run_ts) -> "F.Column":
    """ingested_at stamp = the JOB START time (conservative): a commit-time
    stamp would mask any source modification that lands while the job runs —
    modified_at(T1 during job) < ingested_at(commit T2) and the E17
    predicate would never re-ingest it. Fixed per run, not per action:
    current_timestamp() re-evaluates per materialization."""
    from datetime import datetime, timezone

    ts = run_ts or datetime.now(timezone.utc)
    return F.to_timestamp(F.lit(ts.strftime("%Y-%m-%d %H:%M:%S.%f")))


def lineage_from_blocks(blocks: DataFrame, run_id: str, run_ts=None) -> DataFrame:
    """Per-document checkpoint/metrics rows (FIXTURES.md F4)."""
    return blocks.groupBy("doc_id").agg(
        F.lit(run_id).alias("run_id"),
        F.min("partition_id").alias("partition_id"),
        F.when(F.count(F.col("error")) > 0, "failed")
        .otherwise("processed")
        .alias("status"),
        F.first("error", ignorenulls=True).alias("error"),
        F.first("n_spans_in").cast("long").alias("n_spans_in"),
        # failed docs report 0 blocks (they emit no output rows) — matches
        # the narrow kernel's sentinel, not the count of sibling-span blocks
        F.when(
            F.count(F.col("error")) > 0, F.lit(0).cast("long")
        )
        .otherwise(F.sum((~F.col("kind").isin("error", "empty")).cast("long")))
        .alias("n_blocks_out"),
        _run_ts_col(run_ts).alias("ingested_at"),
    ).select("run_id", "partition_id", "doc_id", "status", "error",
             "n_spans_in", "n_blocks_out", "ingested_at")


def resume_filter(
    docs: DataFrame, lineage: DataFrame | None, modified_col: str | None = None
) -> DataFrame:
    """Skip already-processed documents: left anti join on the checkpoint
    (the reference's document_exists skip, src/storage/postgres.py:253-262,
    cli/cli.py:166-168 — the resumability primitive of the north rule).

    ``modified_col`` (E17, reference is_file_modified src/utils.py:141-147):
    name of a source timestamp column; a document already processed is
    STILL re-ingested when ``docs[modified_col] > max(lineage.ingested_at)``
    for it — the incremental re-ingest predicate. None keeps the pure
    anti-join (never re-process)."""
    if lineage is None:
        return docs
    done = lineage.filter(F.col("status") == "processed")
    if modified_col is None or "ingested_at" not in lineage.columns:
        return docs.join(done.select("doc_id").distinct(), "doc_id", "left_anti")
    last = done.groupBy("doc_id").agg(F.max("ingested_at").alias("_ingested_at"))
    return (
        docs.join(last, "doc_id", "left")
        .filter(
            F.col("_ingested_at").isNull()
            | (F.col(modified_col) > F.col("_ingested_at"))
        )
        .drop("_ingested_at")
    )


# --------------------------------------------------------------------------
# end-to-end
# --------------------------------------------------------------------------
class Extraction(tuple):
    """run_extraction's result: unpacks as (extracted_spans, chunks,
    lineage). ``unpersist()`` releases the kernel output that
    ``persist_blocks=True`` cached; call it once the last output is written
    (a no-op otherwise)."""

    def __new__(cls, extracted, chunks, lineage, cached=None):
        self = super().__new__(cls, (extracted, chunks, lineage))
        self._cached = cached
        return self

    def unpersist(self) -> None:
        if self._cached is not None:
            self._cached.unpersist()


def run_extraction(
    docs: DataFrame,
    run_id: str = "run0",
    prior_lineage: DataFrame | None = None,
    repartition_to: int | None = None,
    persist_blocks: bool = False,
    mode: str = "narrow",
    run_ts=None,
    salt: str = "roundrobin",
) -> Extraction:
    """Full pipeline → (extracted_spans, chunks, lineage).

    Modes (both produce IDENTICAL output — tested):
    * ``narrow`` (default): whole-document kernel, ordering AND chunking
      in-kernel, ZERO shuffles for all three outputs — each is a filter
      (plus a projection) of the one kernel output. Extraction is
      embarrassingly parallel per document; at 100 TB the shuffle the
      spread path pays on every raw payload byte is the bottleneck, so
      narrow is the default.
    * ``spread``: explode(spans) → optional round-robin ``repartition_to``
      → per-span kernel → window re-ordering → chunk_spans (one doc_id
      shuffle + a second Python pass). Use when giant documents
      (10^2-10^3× median) would straggle a narrow task — the north-rule
      skew defuse: one doc's spans spread over many tasks.

    ``persist_blocks=True`` caches the kernel output (MEMORY_AND_DISK) —
    use it when materializing more than one output in the same job batch
    (extract_job's four tables, the streaming sink), since each output
    would otherwise re-run the extraction kernel; in narrow mode that one
    cached pass then serves spans, chunks, lineage and anything derived
    from them (doc_metadata). Release it with ``Extraction.unpersist()``
    after the last write.

    * ``auto``: probe the per-doc span-count distribution and pick for you
      (choose_extraction_mode) — spread only when a giant-document
      straggler is actually present. The probe costs one size-only pass
      over the spans column (no kernel CPU); at very large scale prefer
      passing a precomputed span-count table statistic and choosing the
      mode at the caller, or accept the pass — a wrong narrow choice costs
      more (one 60k-span doc serializes an entire executor-hour behind a
      single task; the skew demo measures 2.1× on a mild version).
    """
    todo = resume_filter(docs, prior_lineage)
    cached = None
    if mode == "auto":
        mode = choose_extraction_mode(todo)
    if mode == "narrow":
        if repartition_to:
            # honor the knob in narrow mode too: round-robin whole-doc rows
            # (spreads docs, not spans — use mode='spread' to split giants)
            todo = todo.repartition(repartition_to)
        raw = extract_documents_narrow(todo)
        if persist_blocks:
            from pyspark import StorageLevel

            raw = cached = raw.persist(StorageLevel.MEMORY_AND_DISK)
        row_type = F.col("row_type")
        extracted = raw.filter(row_type == SPAN_ROW).select(
            "doc_id", "order", "kind", "text", "media_ref", "page_num"
        )
        chunks = _with_chunk_id(raw.filter(row_type == CHUNK_ROW).select(
            "doc_id", F.col("order").alias("chunk_index"), "text", "page_num",
            "n_tokens",
        ))
        lineage = raw.filter(row_type == DOC_ROW).select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "doc_id",
            F.when(F.col("error").isNull(), "processed")
            .otherwise("failed")
            .alias("status"),
            "error",
            "n_spans_in",
            F.col("order").cast("long").alias("n_blocks_out"),
            _run_ts_col(run_ts).alias("ingested_at"),
        )
    elif mode == "spread":
        blocks = extract_blocks(
            explode_spans(todo), repartition_to=repartition_to, salt=salt
        )
        if persist_blocks:
            from pyspark import StorageLevel

            blocks = cached = blocks.persist(StorageLevel.MEMORY_AND_DISK)
        extracted = order_spans(blocks)
        lineage = lineage_from_blocks(blocks, run_id, run_ts=run_ts)
        chunks = chunk_spans(extracted)
    else:
        raise ValueError(f"unknown mode {mode!r} (narrow|spread|auto)")
    return Extraction(extracted, chunks, lineage, cached)


# auto-mode decision thresholds: spread pays a shuffle on every payload
# byte, so it must only win when a straggler is REAL — a giant doc both
# absolutely large (a 4k-span doc still fits a task) AND far off the
# corpus median (a uniformly-heavy corpus is parallel already; splitting
# buys nothing and costs the shuffle)
AUTO_SKEW_MIN_SPANS = 5_000
AUTO_SKEW_RATIO = 50.0


def choose_extraction_mode(docs: DataFrame) -> str:
    """'spread' iff the span-count distribution shows a true giant-doc
    straggler: max ≥ AUTO_SKEW_MIN_SPANS and max ≥ AUTO_SKEW_RATIO ×
    MEDIAN (the median is the robust center — the giant itself drags the
    MEAN up by its own mass, hiding exactly the skew being probed for).
    One aggregate over size(spans) — no payload kernel work, the driver
    gets two numbers (approx-percentile sketch state, mergeable)."""
    row = docs.agg(
        F.max(F.size("spans")).alias("mx"),
        F.percentile_approx(F.size("spans"), 0.5).alias("med"),
    ).collect()[0]
    mx = row["mx"] or 0
    med = row["med"] or 0
    if mx >= AUTO_SKEW_MIN_SPANS and mx >= AUTO_SKEW_RATIO * max(med, 1):
        return "spread"
    return "narrow"
