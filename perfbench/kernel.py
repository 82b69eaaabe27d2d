"""Spark-free phase split of the extraction kernel.

``PageExtractor.extract_pages_py`` is the fused kernel's per-batch body.
``phase_split`` re-runs the same program step by step through the
library's public calls, timing each phase:

    tokenize      PageExtractor.tokenize_page
    trigger_scan  TriggerModel.scan (the trigger pass scan_pages runs per page)
    forward       encoder.forward_ragged (+ encoder.forward for over-long pages)
    decode        subject_support / po_support + decode_*_sparse
    assemble      assemble_triples

and checks, page by page, that its triples equal ``extract_pages_py``'s,
so the phase timings describe the program that is measured end to end.
"""

from __future__ import annotations

import statistics
import time

from deepie_spark.functions.scoring import PageScan, TriggerModel
from deepie_spark.operators.assemble import assemble_triples
from deepie_spark.operators.decode import decode_po_sparse, decode_subjects_sparse

PHASES = ("tokenize", "trigger_scan", "forward", "decode", "assemble")


class SplitMismatch(RuntimeError):
    """The step-by-step kernel disagreed with ``extract_pages_py``."""


def _forward(model, prepared, scans) -> list[PageScan]:
    """The batched forward of ``NeuralTriggerModel.scan_pages``: hit
    pages within the encoder window share ragged stacked forwards,
    longer hit pages take the windowed per-page forward."""
    enc = getattr(model, "encoder", None)
    out = list(scans)
    if enc is None:  # constant-probability model: no forward pass
        return out
    ragged = []
    for i, (scan, page) in enumerate(zip(scans, prepared)):
        if not scan.hits:
            continue
        wrapped = ["[CLS]", *page[1], "[SEP]"]
        if len(wrapped) > enc.max_len:
            out[i] = PageScan(scan.hits, enc.forward(wrapped))
        else:
            ragged.append(i)
    if ragged:
        hiddens = enc.forward_ragged(
            [enc.token_ids(["[CLS]", *prepared[i][1], "[SEP]"]) for i in ragged]
        )
        for i, hid in zip(ragged, hiddens):
            out[i] = PageScan(scans[i].hits, hid)
    return out


def phase_split(ex, texts: list[str]) -> tuple[dict[str, float], list[list[dict]]]:
    """One step-by-step pass: (seconds per phase, triples per page)."""
    model = ex.model
    t = dict.fromkeys(PHASES, 0.0)
    c = time.perf_counter()
    prepared = [ex.tokenize_page(x) for x in texts]
    t["tokenize"] = time.perf_counter() - c

    c = time.perf_counter()
    scans = [TriggerModel.scan(model, *p) for p in prepared]
    t["trigger_scan"] = time.perf_counter() - c

    c = time.perf_counter()
    scans = _forward(model, prepared, scans)
    t["forward"] = time.perf_counter() - c

    triples = []
    for (context, tokens, starts, ends), scan in zip(prepared, scans):
        n = len(tokens) + 2
        c = time.perf_counter()
        s_start, s_end = model.subject_support(scan)
        spoes: dict = {}
        for subject in decode_subjects_sparse(s_start, s_end, n):
            o_start, o_end = model.po_support(scan, subject)
            spoes.setdefault(subject, []).extend(decode_po_sparse(o_start, o_end, n))
        c2 = time.perf_counter()
        triples.append(assemble_triples(context, starts, ends, spoes, ex.schema))
        c3 = time.perf_counter()
        t["decode"] += c2 - c
        t["assemble"] += c3 - c2
    return t, triples


def kernel_metrics(ex, texts: list[str], reps: int = 3) -> dict[str, float]:
    """Median-of-``reps`` ms/page per phase and for the whole kernel,
    plus hit-page and triples-per-page ratios.  Raises SplitMismatch
    if the split's triples differ from ``extract_pages_py`` on a page."""
    n = len(texts)
    if n == 0:
        return {}
    kernel_s, phases = [], {p: [] for p in PHASES}
    for _ in range(reps):
        c = time.perf_counter()
        want = ex.extract_pages_py(texts)
        kernel_s.append(time.perf_counter() - c)
        t, got = phase_split(ex, texts)
        for i, (a, b) in enumerate(zip(got, want)):
            if a != b:
                raise SplitMismatch(f"page {i}: split {a!r} != kernel {b!r}")
        for p in PHASES:
            phases[p].append(t[p])
    hits = sum(
        1 for p in (ex.tokenize_page(x) for x in texts)
        if TriggerModel.scan(ex.model, *p).hits
    )
    out = {
        f"extract.{p}_ms_per_page": statistics.median(v) * 1000 / n
        for p, v in phases.items()
    }
    out["extract.kernel_ms_per_page"] = statistics.median(kernel_s) * 1000 / n
    out["extract.hit_page_ratio"] = hits / n
    out["extract.triples_per_page"] = sum(len(x) for x in want) / n
    return out
