"""Distributed extraction (the CasRel cascade, Spark-first).

One physical path: ``extract_triples_fused`` runs the whole cascade —
tokenize -> subject grid -> decode -> per-subject po grid -> decode ->
assemble — page-locally inside one ``mapInPandas`` pass.  Zero
shuffles; the reference re-batches per subject only because GPU
batching wants it (multi_pointer_net.py:96-123); on Spark the fan-out
is page-local and free.  ``KgPipeline``'s ``triples`` stage runs it
over the committed ``texts`` table.

``stage_texts`` is the pipeline's ``texts`` stage kernel; every
kernel that needs tokens (extraction, mention detection, gold spans)
tokenizes its own pages with ``PageExtractor.tokenize_page``.  Each
page's triples must equal the single-row oracle ``extract_page_py`` —
byte-identical per url, independent of Arrow batch boundaries.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from deepie_spark.config.schema import SpoSchema
from deepie_spark.functions.scoring import TriggerModel
from deepie_spark.functions.textnorm import clean_text_py, extract_text_py
from deepie_spark.functions.tokenizer import (
    WordPieceTokenizer,
    load_vocab,
    tokenize_with_offsets,
    wrap_cls_sep,
)
from deepie_spark.functions.trie import build_alias_trie
from deepie_spark.operators.assemble import assemble_triples
from deepie_spark.operators.decode import (
    decode_po_sparse,
    decode_subjects,
    decode_subjects_sparse,
)

TRIPLES_DDL = (
    "url string, subject string, subject_type string, predicate string, "
    "object map<string,string>, object_type map<string,string>"
)


class PageExtractor:
    """Driver-built, picklable bundle of tokenizer + alias trie + scorer
    + (by default) the >=10 MB transformer weight artifact.

    Broadcast once per job; pandas-UDF workers deserialize it once per
    python worker (module-level singleton pattern, mirroring the
    reference's global tokenizer at data_loader_v2.py:15).  With
    ``with_encoder=True`` (default) the scorer is NeuralTriggerModel:
    grid probabilities come from a real seeded numpy transformer
    (functions/encoder.py), and the pickled broadcast carries its full
    tensor set — exercising the same weight-distribution path a trained
    BERT checkpoint would take (multi_pointer_net.py:16-161).
    ``with_encoder=False`` keeps the constant-PROB TriggerModel (same
    decoded triples, lighter artifact) for tests that want it."""

    def __init__(
        self,
        schema: SpoSchema,
        alias_rows: list[dict],
        vocab: dict[str, int] | None = None,
        max_seq_length: int = 256,
        with_encoder: bool = True,
        weights_path: str | None = None,
    ):
        self.schema = schema
        self.max_seq_length = max_seq_length
        self.tokenizer = WordPieceTokenizer(vocab or load_vocab())
        self.trie = build_alias_trie(alias_rows, self._alias_tokens)
        if with_encoder:
            from deepie_spark.functions.encoder import TinyTransformerEncoder
            from deepie_spark.functions.scoring import NeuralTriggerModel

            self.encoder = TinyTransformerEncoder(
                self.tokenizer.vocab, num_labels=schema.num_labels
            )
            if weights_path is not None:
                # the checkpoint-load path (multi_pointer_net.py:16-161's
                # analogue): every tensor comes from the .npz artifact
                # on disk, not the seeded init — the broadcast then
                # ships the LOADED weights, and encoder_grids hashes
                # prove the grids track the file (tested)
                self.encoder.load_weights(weights_path)
            self.model = NeuralTriggerModel(
                schema, self.tokenizer, self.trie, self.encoder
            )
        else:
            self.encoder = None
            self.model = TriggerModel(schema, self.tokenizer, self.trie)

    def _alias_tokens(self, alias: str) -> list[str]:
        toks, _s, _e = tokenize_with_offsets(
            alias, self.tokenizer, self.max_seq_length
        )
        return toks

    # ---- single-row oracle ------------------------------------------------

    def tokenize_page(self, text: str):
        context = clean_text_py(text)
        tokens, starts, ends = tokenize_with_offsets(
            context, self.tokenizer, self.max_seq_length
        )
        return context, tokens, starts, ends

    def extract_page_py(self, text: str) -> list[dict]:
        """The per-url reference-semantics oracle: grids + exact decode."""
        context, tokens, starts, ends = self.tokenize_page(text)
        wrapped = wrap_cls_sep(tokens)
        n = len(wrapped)
        scan = self.model.scan(context, tokens, starts, ends)
        return self._decode_scan(context, starts, ends, scan, n)

    def _decode_scan(self, context, starts, ends, scan, n) -> list[dict]:
        # sparse decode: same gate values (float32-cast exactly as the
        # dense grid stores them), same threshold comparisons, same
        # candidate order as decode over the dense grids — the dense
        # [L,2]/[L,P,2] zeros + np.where round-trip was ~20% of the
        # kernel (equality fuzz + corpus sweep in test_decode_sparse)
        s_start, s_end = self.model.subject_support(scan)
        spoes: dict[tuple[int, int], list[tuple[int, int, int]]] = {}
        for subject in decode_subjects_sparse(s_start, s_end, n):
            o_start, o_end = self.model.po_support(scan, subject)
            spoes.setdefault(subject, []).extend(
                decode_po_sparse(o_start, o_end, n)
            )
        return assemble_triples(context, starts, ends, spoes, self.schema)

    def extract_pages_py(self, texts: list) -> list[list[dict]]:
        """Batch twin of :meth:`extract_page_py` — IDENTICAL decoded
        triples per page (tested), but hit-pages share length-grouped
        stacked forwards (``scan_pages``) instead of one numpy forward
        per page.  Decode cannot diverge: triple positions come from
        the trigger scan and every gate value lies strictly above the
        decode thresholds, so the tiny float differences of the
        batched forward never reach the output.  This is the fused
        distributed kernel's per-batch body."""
        prepared = [self.tokenize_page(t) for t in texts]
        scans = self.model.scan_pages(prepared)
        return [
            self._decode_scan(context, starts, ends, scan, len(tokens) + 2)
            for (context, tokens, starts, ends), scan in zip(prepared, scans)
        ]


# ---- fused distributed path ------------------------------------------------


def _triples_to_rows(url: str, triples: list[dict]) -> list[tuple]:
    return [
        (
            url,
            t["subject"],
            t["subject_type"],
            t["predicate"],
            t["object"],
            t["object_type"],
        )
        for t in triples
    ]


def extract_triples_fused(pages_df, extractor_bc, text_col: str = "text"):
    """pages -> triples in one mapInPandas pass (no shuffle).

    ``extractor_bc``: ``sc.broadcast(PageExtractor)``.
    """

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ex: PageExtractor = extractor_bc.value
        cols = ["url", "subject", "subject_type", "predicate", "object", "object_type"]
        for pdf in it:
            rows: list[tuple] = []
            # batch body: per-page decode semantics, length-grouped
            # stacked forwards (extract_pages_py == extract_page_py
            # per page, tested)
            per_page = ex.extract_pages_py(list(pdf[text_col]))
            for url, triples in zip(pdf["url"], per_page):
                rows.extend(_triples_to_rows(url, triples))
            yield pd.DataFrame(rows, columns=cols)

    return pages_df.select("url", text_col).mapInPandas(kernel, TRIPLES_DDL)


def extract_triples_fused_dedup(pages_df, extractor_bc, text_col: str = "text"):
    """Extract once per DISTINCT text, then join triples back to urls.

    Real crawls carry 30-50% byte-identical boilerplate pages; the
    extraction kernel (tokenize + transformer forward + decode) is the
    dominant per-page cost, so running it once per unique text and
    re-attaching urls trades two shuffles (distinct + join on the text
    hash) for skipping every repeat extraction.  Worth it when the
    duplicate rate is substantial; for near-unique corpora use plain
    ``extract_triples_fused`` (zero shuffles).  Output rows equal the
    plain fused path exactly (tested) — extraction is a pure function
    of the text.

    The dedup groups on ``md5(text)`` and keeps ``first(text)``, NOT
    ``distinct()`` over the raw text: distinct hash-partitions and
    compares on the full text bytes, while grouping on the 16-byte
    digest moves the text payload through exactly ONE exchange keyed
    by a fixed-width hash (plan-tested).  An md5 collision would drop
    a distinct text; at 10^12 docs the birthday bound against 2^128
    makes that ~10^-15 — acceptable for extraction skipping (and the
    same stance ``exact_dedup`` takes)."""
    from pyspark.sql import functions as F

    uniq = (
        pages_df.select(
            F.md5(F.col(text_col)).alias("url"), F.col(text_col)
        )
        .groupBy("url")
        .agg(F.first(text_col).alias(text_col))
    )
    per_text = extract_triples_fused(uniq, extractor_bc, text_col=text_col)
    keyed = pages_df.select(
        "url", F.md5(F.col(text_col)).alias("_tid")
    )
    return keyed.join(
        per_text.withColumnRenamed("url", "_tid"), "_tid"
    ).select(
        "url", "subject", "subject_type", "predicate", "object", "object_type"
    )


# ---- pipeline texts stage --------------------------------------------------


def stage_texts(pages_df):
    """pages -> (url, lang, text).  Drops the html binary column as early
    as possible — at 100 TB the binary column must never cross a stage
    boundary (SURVEY.md §7 risk list)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "lang": pdf["lang"],
                    "text": [extract_text_py(h) for h in pdf["html"]],
                }
            )

    return pages_df.select("url", "lang", "html").mapInPandas(
        kernel, "url string, lang string, text string"
    )


# ---- encoder grid verification ------------------------------------------------

GRIDS_DDL = "url string, n_tokens int, w_md5 string, grid_md5 string, po_md5 string"


def encoder_grid_py(ex: PageExtractor, text: str) -> tuple[int, str, str]:
    """Single-row twin for the grid-value check: (n_tokens, md5 of the
    subject grid, md5 of all per-subject object grids) with every
    probability scaled to round(p*1e6) ints.  Shared verbatim by the
    distributed kernel and the driver-side fixture builder, so the
    hash compare verifies the broadcast weight artifact end-to-end:
    any corrupted/reordered tensor in shipping changes every gate
    value (functions/encoder.py) and fails the match."""
    import hashlib
    import json

    context, tokens, starts, ends = ex.tokenize_page(text)
    page = ex.model.scan(context, tokens, starts, ends)
    n = len(tokens) + 2
    sub = ex.model.subject_grid(page, n)
    ints = [int(round(float(x) * 1e6)) for x in sub.reshape(-1)]
    sub_md5 = hashlib.md5(
        json.dumps(ints, separators=(",", ":")).encode()
    ).hexdigest()
    po_ints: list[int] = []
    for subject in decode_subjects(sub, n):
        g = ex.model.po_grid(page, subject, n)
        po_ints.extend(int(round(float(x) * 1e6)) for x in g.reshape(-1))
    po_md5 = hashlib.md5(
        json.dumps(po_ints, separators=(",", ":")).encode()
    ).hexdigest()
    return len(tokens), sub_md5, po_md5


def encoder_grid_hashes(pages_df, extractor_bc, text_col: str = "text"):
    """pages -> (url, n_tokens, w_md5, grid_md5, po_md5): the
    distributed grid-VALUE check.  ``w_md5`` fingerprints every tensor
    of the broadcast encoder as the WORKER sees it; the grid hashes
    cover the actual forward-pass outputs."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ex: PageExtractor = extractor_bc.value
        w = ex.encoder.weights_fingerprint() if ex.encoder is not None else ""
        cols = ["url", "n_tokens", "w_md5", "grid_md5", "po_md5"]
        for pdf in it:
            rows = []
            for url, text in zip(pdf["url"], pdf[text_col]):
                nt, gm, pm = encoder_grid_py(ex, text)
                rows.append((url, nt, w, gm, pm))
            yield pd.DataFrame(rows, columns=cols)

    return pages_df.select("url", text_col).mapInPandas(kernel, GRIDS_DDL)
