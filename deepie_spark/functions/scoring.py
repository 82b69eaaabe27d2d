"""Deterministic trigger/alias scoring model.

The reference's extraction quality lives in trained BERT weights
(models/spo_net/multi_pointer_net.py) that we neither have nor need:
the build contract scores our pipeline against *reference-semantics*
gold, so what must be reproduced exactly is the cascade's **decode
machinery** — thresholds, pairing, regrouping — not the neural net.

This module is the model stand-in: a deterministic scorer that, given
the token stream of a page, emits the same [L,2] subject grid and
[L,P,2] per-subject object grid shapes the reference's
``ERENet.forward`` emits (multi_pointer_net.py:74-93), with probability
0.95 at spans it believes in and 0.0 elsewhere.  The downstream decode
(operators/decode.py) then applies the reference's exact thresholds
(subject start>0.6/end>0.5, object 0.6/0.5) and pairing rules.  The
scorer is pure and picklable: it runs identically in the single-row
Python oracle and inside Arrow-batched ``mapInPandas`` workers, which
is precisely the per-url invariant the driver checks.

Belief rules (the "weights"):
  - candidate value spans = alias-trie matches (the gazetteer analogue,
    trie.py:36-43) plus maximal digit-run elements;
  - a predicate fires where its trigger-phrase token sequence occurs;
    subject = longest candidate span ending just before the trigger,
    object = longest candidate span starting just after it;
  - complex-affiliate predicates (schema.affiliate_of) condition on the
    nearest preceding primary's object within the sentence — mirroring
    how the reference's cascade tags affiliate rows with the primary
    *object* as their subject (data_loader_v2.py:236-239).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from deepie_spark.config.schema import SpoSchema
from deepie_spark.functions.tokenizer import (
    WordPieceTokenizer,
    split_sub_text,
)
from deepie_spark.functions.trie import AliasTrie

PROB = 0.95
# PROB as the float32 dense grid stores it (threshold comparisons on the
# sparse decode path must see the identical number)
PROB32 = float(np.float32(PROB))
SENTENCE_ENDS = {".", "。", "!", "！", "?", "？"}


class PageScan(NamedTuple):
    """Per-page scan state handed from ``scan`` to the grid emitters.

    ``hits``: (s1, s2, o1, o2, pid) in unwrapped token indices.
    ``hidden``: encoder states [n_wrapped, d_model] when the model has
    a transformer encoder (NeuralTriggerModel), else None.  Carrying
    the states here means one forward pass per page even when the
    cascade asks for many per-subject object grids."""

    hits: list[tuple[int, int, int, int, int]]
    hidden: np.ndarray | None = None


def tokenize_phrase(phrase: str, tokenizer: WordPieceTokenizer) -> tuple[str, ...]:
    toks: list[str] = []
    for el in split_sub_text(phrase):
        if el == " ":
            continue
        toks.extend(tokenizer.tokenize(el))
    return tuple(toks)


class TriggerModel:
    def __init__(self, schema: SpoSchema, tokenizer: WordPieceTokenizer, trie: AliasTrie):
        self.schema = schema
        self.tokenizer = tokenizer
        self.trie = trie
        self.num_labels = schema.num_labels
        # pid -> list of trigger token tuples (one per language)
        self.triggers: dict[int, list[tuple[str, ...]]] = {
            p.pid: [
                t
                for t in (tokenize_phrase(ph, tokenizer) for ph in p.triggers.values())
                if t
            ]
            for p in schema.predicates
        }
        # first tokens of every trigger phrase: lets the per-page scan
        # index only positions that can possibly start a trigger
        # (one set-membership test per token) instead of building a
        # full token -> positions map per page
        self._trigger_first = frozenset(
            seq[0] for seqs in self.triggers.values() for seq in seqs
        )

    # -- span proposal --------------------------------------------------

    def propose_spans(
        self, text: str, tokens: list[str], starts: list[int], ends: list[int]
    ) -> list[tuple[int, int]]:
        """Candidate value spans as inclusive (tok_start, tok_end) pairs:
        alias matches plus digit-run elements."""
        spans: set[tuple[int, int]] = set()
        for s, e, _entry in self.trie.match_all(tokens):
            spans.add((s, e - 1))
        # digit runs: consecutive tokens sharing one orig element whose
        # chars are all digits
        i, n = 0, len(tokens)
        while i < n:
            j = i
            while j + 1 < n and starts[j + 1] == starts[i] and ends[j + 1] == ends[i]:
                j += 1
            frag = text[starts[i] : ends[i] + 1]
            if frag.isdigit():
                spans.add((i, j))
            i = j + 1
        return sorted(spans)

    # -- trigger scan -----------------------------------------------------

    def _occurrences(self, tokens: list[str]):
        """All (pos, pid, trig_len) trigger hits, sorted by position then
        longest trigger first (so nested triggers prefer the long one).

        One pass builds a first-token -> positions index; each trigger
        then probes only its candidate positions (O(n + hits) instead of
        O(n x triggers)).  The index only records tokens that START some
        trigger phrase (``_trigger_first``) — every other token could
        never be probed, so indexing it was pure per-page overhead; the
        probe results (and therefore the output, order included) are
        identical."""
        n = len(tokens)
        first = self._trigger_first
        index: dict[str, list[int]] = {}
        for i, t in enumerate(tokens):
            if t in first:
                index.setdefault(t, []).append(i)
        occ = []
        for pid, seqs in self.triggers.items():
            for seq in seqs:
                m = len(seq)
                if m == 0 or m > n:
                    continue
                for i in index.get(seq[0], ()):
                    if i + m <= n and tuple(tokens[i : i + m]) == seq:
                        occ.append((i, pid, m))
        occ.sort(key=lambda t: (t[0], -t[2]))
        return occ

    def scan(
        self, text: str, tokens: list[str], starts: list[int], ends: list[int]
    ) -> PageScan:
        """PageScan whose hits are (s1, s2, o1, o2, pid) in unwrapped
        token indices (inclusive)."""
        spans = self.propose_spans(text, tokens, starts, ends)
        by_end: dict[int, tuple[int, int]] = {}
        by_start: dict[int, tuple[int, int]] = {}
        for s, e in spans:  # later (longer-from-same-edge) wins
            cur = by_end.get(e)
            if cur is None or (e - s) > (cur[1] - cur[0]):
                by_end[e] = (s, e)
            cur = by_start.get(s)
            if cur is None or (e - s) > (cur[1] - cur[0]):
                by_start[s] = (s, e)

        sent_end_positions = [i for i, t in enumerate(tokens) if t in SENTENCE_ENDS]

        out: list[tuple[int, int, int, int, int]] = []
        last_primary_obj: dict[int, tuple[int, int]] = {}
        prev_pos = 0
        for pos, pid, m in self._occurrences(tokens):
            # sentence boundary between previous hit and this one resets
            # the primary-object conditioning state
            if any(prev_pos <= b < pos for b in sent_end_positions):
                last_primary_obj.clear()
            prev_pos = pos

            obj = by_start.get(pos + m)
            if obj is None:
                continue
            if pid in self.schema.affiliate_of:
                primary = self.schema.affiliate_of[pid]
                sub = last_primary_obj.get(primary)
            else:
                sub = by_end.get(pos - 1)
            if sub is None:
                continue
            out.append((sub[0], sub[1], obj[0], obj[1], pid))
            if pid in self.schema.complex_primary_ids:
                last_primary_obj[pid] = obj
        return PageScan(out)

    def scan_pages(self, pages: list[tuple]) -> list[PageScan]:
        """Batch form of :meth:`scan` over ``[(text, tokens, starts,
        ends), ...]`` — the trigger-only model has no cross-page work
        to amortize, so this is the per-page scan; NeuralTriggerModel
        overrides it with a length-grouped batched forward."""
        return [self.scan(*p) for p in pages]

    # -- grid emission (reference ERENet output shapes) -------------------

    def subject_grid(self, page: PageScan, n_wrapped: int) -> np.ndarray:
        """[L,2] start/end probabilities over [CLS]+tokens+[SEP]."""
        g = np.zeros((n_wrapped, 2), dtype=np.float32)
        for s1, s2, _o1, _o2, _p in page.hits:
            g[s1 + 1, 0] = PROB
            g[s2 + 1, 1] = PROB
        return g

    def po_grid(self, page: PageScan, subject: tuple[int, int], n_wrapped: int) -> np.ndarray:
        """[L,P,2] object grid conditioned on one subject span (wrapped
        indices, as the cascade's stage-2 sees it)."""
        g = np.zeros((n_wrapped, self.num_labels, 2), dtype=np.float32)
        s1, s2 = subject[0] - 1, subject[1] - 1  # unwrap
        for t1, t2, o1, o2, p in page.hits:
            if (t1, t2) == (s1, s2):
                g[o1 + 1, p, 0] = PROB
                g[o2 + 1, p, 1] = PROB
        return g

    # -- sparse grid support (the hot decode path) -----------------------
    #
    # The grids above are almost-all-zero; the decode twins in
    # operators/decode.py consume their support directly.  Values go
    # through float32 (``float(np.float32(x))``) because that is
    # exactly what storing into the float32 dense grid does — the
    # threshold comparisons see bit-identical numbers on both paths.

    def subject_support(
        self, page: PageScan
    ) -> tuple[list[tuple[int, float]], list[tuple[int, float]]]:
        """The nonzero support of :meth:`subject_grid`'s two columns as
        position-ascending (pos, value) lists."""
        starts = sorted({h[0] + 1 for h in page.hits})
        ends = sorted({h[1] + 1 for h in page.hits})
        return [(i, PROB32) for i in starts], [(i, PROB32) for i in ends]

    def po_support(
        self, page: PageScan, subject: tuple[int, int]
    ) -> tuple[list[tuple[int, int, float]], list[tuple[int, int, float]]]:
        """The nonzero support of :meth:`po_grid` as (pos, pid, value)
        lists sorted by (pos, pid) — np.where's row-major order."""
        s1, s2 = subject[0] - 1, subject[1] - 1  # unwrap
        skeys: set[tuple[int, int]] = set()
        ekeys: set[tuple[int, int]] = set()
        for t1, t2, o1, o2, p in page.hits:
            if (t1, t2) == (s1, s2):
                skeys.add((o1 + 1, p))
                ekeys.add((o2 + 1, p))
        return (
            [(pos, pid, PROB32) for pos, pid in sorted(skeys)],
            [(pos, pid, PROB32) for pos, pid in sorted(ekeys)],
        )


class NeuralTriggerModel(TriggerModel):
    """TriggerModel whose grid VALUES come from a real transformer
    forward pass (functions/encoder.py) instead of the constant PROB.

    Span positions still come from the deterministic trigger scan (the
    planted-gold P/R contract); at each believed position the emitted
    probability is ``GATE_LO + GATE_SPAN * sigmoid(h . w)`` over the
    encoder's hidden state — strictly inside (0.70, 0.95), so decode
    (thresholds 0.6/0.5, decode.py:19-22) produces byte-identical
    triples, while the grid values depend on the full >=10 MB weight
    artifact shipped through the broadcast.  One forward pass per page:
    ``scan`` computes the hidden states once and PageScan carries them
    to every grid request (the cascade's per-subject po grids reuse
    them for free)."""

    def __init__(self, schema, tokenizer, trie, encoder):
        super().__init__(schema, tokenizer, trie)
        self.encoder = encoder

    def scan(self, text, tokens, starts, ends) -> PageScan:
        base = super().scan(text, tokens, starts, ends)
        if not base.hits:
            return base  # no believed span -> grids are all-zero anyway
        hidden = self.encoder.forward(["[CLS]", *tokens, "[SEP]"])
        return PageScan(base.hits, hidden)

    def scan_pages(self, pages: list[tuple]) -> list[PageScan]:
        """Batched scan over ``[(text, tokens, starts, ends), ...]`` —
        the fused-kernel fast path.  Trigger scans run per page
        (pure python), then ALL hit-pages take ragged stacked forwards
        (``encoder.forward_ragged``: length-sorted chunks, padded +
        key-masked): the forward is numpy-dispatch-bound, so
        amortizing its ~70 ops over hundreds of rows per chunk is the
        single biggest kernel win (exact-length grouping averaged only
        ~8 rows per stack on real corpora).  Tiny float differences vs
        the per-page path cannot change a decoded triple — positions
        come from the scan and every gate lies strictly inside
        (0.70, 0.95), above all decode thresholds.  Over-length pages
        (wrapped > max_len) keep the per-page windowed forward."""

        scans = [
            super(NeuralTriggerModel, self).scan(text, tokens, starts, ends)
            for text, tokens, starts, ends in pages
        ]
        out: list[PageScan] = list(scans)
        ragged_idx: list[int] = []
        for i, (scan, page) in enumerate(zip(scans, pages)):
            if not scan.hits:
                continue
            n_wrapped = len(page[1]) + 2
            if n_wrapped > self.encoder.max_len:
                out[i] = PageScan(
                    scan.hits,
                    self.encoder.forward(["[CLS]", *page[1], "[SEP]"]),
                )
            else:
                ragged_idx.append(i)
        if ragged_idx:
            ids_list = [
                self.encoder.token_ids(["[CLS]", *pages[i][1], "[SEP]"])
                for i in ragged_idx
            ]
            hiddens = self.encoder.forward_ragged(ids_list)
            for i, hid in zip(ragged_idx, hiddens):
                out[i] = PageScan(scans[i].hits, hid)
        return out

    def subject_grid(self, page: PageScan, n_wrapped: int) -> np.ndarray:
        g = np.zeros((n_wrapped, 2), dtype=np.float32)
        if not page.hits:
            return g
        # per-entry gates: the grid only carries values at scan-believed
        # positions (a handful per page), so the full [L, 2] gate matrix
        # was computed to be thrown away — O(hits * d) beats O(L * d)
        enc = self.encoder
        for s1, s2, _o1, _o2, _p in page.hits:
            g[s1 + 1, 0] = enc.subject_gate_at(page.hidden, s1 + 1, 0)
            g[s2 + 1, 1] = enc.subject_gate_at(page.hidden, s2 + 1, 1)
        return g

    def po_grid(self, page: PageScan, subject: tuple[int, int], n_wrapped: int) -> np.ndarray:
        g = np.zeros((n_wrapped, self.num_labels, 2), dtype=np.float32)
        if not page.hits:
            return g
        enc = self.encoder
        s1, s2 = subject[0] - 1, subject[1] - 1  # unwrap
        cond = None
        for t1, t2, o1, o2, p in page.hits:
            if (t1, t2) == (s1, s2):
                if cond is None:  # one conditioning scalar per subject
                    cond = enc.object_condition(page.hidden, subject)
                g[o1 + 1, p, 0] = enc.object_gate_at(page.hidden, cond, o1 + 1, p, 0)
                g[o2 + 1, p, 1] = enc.object_gate_at(page.hidden, cond, o2 + 1, p, 1)
        return g

    def subject_support(self, page: PageScan):
        if not page.hits:
            return [], []
        enc = self.encoder
        f32 = np.float32
        starts = sorted({h[0] + 1 for h in page.hits})
        ends = sorted({h[1] + 1 for h in page.hits})
        return (
            [(i, float(f32(enc.subject_gate_at(page.hidden, i, 0)))) for i in starts],
            [(i, float(f32(enc.subject_gate_at(page.hidden, i, 1)))) for i in ends],
        )

    def po_support(self, page: PageScan, subject: tuple[int, int]):
        s1, s2 = subject[0] - 1, subject[1] - 1  # unwrap
        skeys: set[tuple[int, int]] = set()
        ekeys: set[tuple[int, int]] = set()
        for t1, t2, o1, o2, p in page.hits:
            if (t1, t2) == (s1, s2):
                skeys.add((o1 + 1, p))
                ekeys.add((o2 + 1, p))
        if not skeys:
            return [], []
        enc = self.encoder
        f32 = np.float32
        cond = enc.object_condition(page.hidden, subject)
        return (
            [
                (pos, pid, float(f32(enc.object_gate_at(page.hidden, cond, pos, pid, 0))))
                for pos, pid in sorted(skeys)
            ],
            [
                (pos, pid, float(f32(enc.object_gate_at(page.hidden, cond, pos, pid, 1))))
                for pos, pid in sorted(ekeys)
            ],
        )
