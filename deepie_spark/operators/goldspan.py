"""Gold-span search + non-overlapping S/O placement — training-label
generation at scale.

Exact ports of the reference's label-building primitives:

  - ``search`` (utils/data_util.py:413-421): first index of a
    sub-sequence in a token list, -1 if absent;
  - ``search_spo_index`` (run/DuIE/transformer_mpn_v2/
    data_loader_v2.py:116-163): places BOTH the subject and the object
    token spans in one pass, longest surface first, and forbids the
    second span from overlapping the first (the ``forbidden_index``
    check) — the detail that keeps self-referential sentences from
    producing degenerate labels.

Distributed shape: gold triples join the (url, text) pages on url
(broadcast when the gold side is dimension-sized, shuffle hash join
otherwise — both sides are hash-partitioned on url so the join
co-locates with the downstream per-url label pack), then one
``mapInPandas`` pass tokenizes each page and runs the searches
page-locally.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GOLD_SPANS_DDL = (
    "url string, subject string, predicate string, object_value string, "
    "subject_start int, subject_len int, object_start int, object_len int"
)


def search(pattern: list, sequence: list) -> int:
    """First index of ``pattern`` in ``sequence``, -1 if absent
    (data_util.py:413-421)."""
    n = len(pattern)
    for i in range(len(sequence)):
        if sequence[i : i + n] == pattern:
            return i
    return -1


def search_spo_index(
    tokens: list, subject_sub_tokens: list, object_sub_tokens: list
) -> tuple[int, int]:
    """(subject_start, object_start), -1 when unplaced — verbatim
    semantics of data_loader_v2.py:116-163: the longer surface is
    placed first at its first occurrence; the shorter one takes the
    first occurrence that does NOT overlap it (and scans past
    overlapping hits)."""
    subject_start_index, object_start_index = -1, -1
    forbidden_index = None
    if len(subject_sub_tokens) > len(object_sub_tokens):
        for index in range(len(tokens) - len(subject_sub_tokens) + 1):
            if tokens[index : index + len(subject_sub_tokens)] == subject_sub_tokens:
                subject_start_index = index
                forbidden_index = index
                break
        for index in range(len(tokens) - len(object_sub_tokens) + 1):
            if tokens[index : index + len(object_sub_tokens)] == object_sub_tokens:
                if forbidden_index is None:
                    object_start_index = index
                    break
                elif (
                    index < forbidden_index
                    or index >= forbidden_index + len(subject_sub_tokens)
                ):
                    object_start_index = index
                    break
    else:
        for index in range(len(tokens) - len(object_sub_tokens) + 1):
            if tokens[index : index + len(object_sub_tokens)] == object_sub_tokens:
                object_start_index = index
                forbidden_index = index
                break
        for index in range(len(tokens) - len(subject_sub_tokens) + 1):
            if tokens[index : index + len(subject_sub_tokens)] == subject_sub_tokens:
                if forbidden_index is None:
                    subject_start_index = index
                    break
                elif (
                    index < forbidden_index
                    or index >= forbidden_index + len(object_sub_tokens)
                ):
                    subject_start_index = index
                    break
    return subject_start_index, object_start_index


def gold_spans(
    texts_df: DataFrame,
    gold_df: DataFrame,
    extractor_bc,
    broadcast_gold: bool = False,
) -> DataFrame:
    """Pages x gold triples -> placed token spans.

    ``texts_df``: (url, text) pages; ``gold_df``: (url, subject,
    predicate, object_value).  At crawl scale gold is a fact table — the
    url-equi-join shuffles both sides on url (set
    ``broadcast_gold=True`` only for dimension-sized gold).  Pages are
    tokenized inside the kernel with ``tokenize_page``, and surfaces with
    the SAME tokenizer, so token-space equality is exact."""
    gold = gold_df.select("url", "subject", "predicate", "object_value")
    if broadcast_gold:
        gold = F.broadcast(gold)
    joined = texts_df.select("url", "text").join(gold, "url")

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ex = extractor_bc.value
        surface_toks: dict[str, list[str]] = {}

        def toks_of(surface: str) -> list[str]:
            got = surface_toks.get(surface)
            if got is None:
                got = ex._alias_tokens(surface)
                surface_toks[surface] = got
            return got

        cols = ["url", "subject", "predicate", "object_value",
                "subject_start", "subject_len", "object_start", "object_len"]
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                toks = ex.tokenize_page(r.text)[1]
                st = toks_of(r.subject)
                ot = toks_of(r.object_value)
                s_at, o_at = search_spo_index(toks, st, ot)
                rows.append(
                    (r.url, r.subject, r.predicate, r.object_value,
                     s_at, len(st), o_at, len(ot))
                )
            yield pd.DataFrame(rows, columns=cols)

    return joined.mapInPandas(kernel, GOLD_SPANS_DDL)


EXPANDED_DDL = (
    "url string, variant int, subject_start int, subject_len int, "
    "object_start int, object_len int, predicate_id int"
)


def expand_spoes_v3(
    spoes: dict, complex_affiliate_ids: set
) -> list[dict]:
    """The v3 training-example duplication — verbatim port of
    transformer_mpn_v3/data_loader.py:252-276 (train grows 171k->229k,
    run/DuIE/实施步骤.md:25): besides the full example, emit one
    single-subject example per subject, gated by a flag that turns on
    at the first subject carrying a complex-affiliate predicate and —
    the reference's quirk, kept verbatim — NEVER resets, so every
    subject from that point on (in insertion order) duplicates, while
    subjects before it do not."""
    out = [spoes]
    flag = False
    for s, objs in spoes.items():
        for _o1, _o2, p in objs:
            if p in complex_affiliate_ids:
                flag = True
                continue
        if not flag:
            continue
        out.append({s: spoes[s]})
    return out


def expand_examples_v3(
    gold_spans_df: DataFrame, schema, order_col: str = "object_start"
) -> DataFrame:
    """Distributed v3 duplication over placed gold spans: per url,
    rebuild the spoes dict (insertion order = ``order_col`` then
    predicate_id, deterministic), run :func:`expand_spoes_v3`, and
    explode each variant back to flat label rows tagged with a variant
    id (0 = the full example).  One ``applyInPandas`` per url group —
    the reference's per-example python loop, batch-shaped."""
    affi = set(schema.complex_affiliate_ids)
    pid_of = {p.label: p.pid for p in schema.predicates}

    def expand(pdf: pd.DataFrame) -> pd.DataFrame:
        url = pdf["url"].iloc[0]
        pdf = pdf.sort_values([order_col, "predicate_id"], kind="stable")
        spoes: dict = {}
        for r in pdf.itertuples(index=False):
            key = (int(r.subject_start), int(r.subject_len))
            spoes.setdefault(key, []).append(
                (int(r.object_start), int(r.object_len), int(r.predicate_id))
            )
        rows = []
        for variant, sp in enumerate(expand_spoes_v3(spoes, affi)):
            for (s1, slen), objs in sp.items():
                for o1, olen, pid in objs:
                    rows.append((url, variant, s1, slen, o1, olen, pid))
        return pd.DataFrame(
            rows,
            columns=["url", "variant", "subject_start", "subject_len",
                     "object_start", "object_len", "predicate_id"],
        )

    if "predicate_id" not in gold_spans_df.columns:
        # pure-Catalyst label->pid lookup (map literal, no python UDF)
        pid_map = F.create_map(
            *[F.lit(x) for kv in pid_of.items() for x in kv]
        )
        with_pid = gold_spans_df.withColumn(
            "predicate_id",
            F.coalesce(
                F.try_element_at(pid_map, F.col("predicate")), F.lit(-1)
            ).cast("int"),
        )
    else:
        with_pid = gold_spans_df
    return (
        with_pid.select(
            "url", "subject_start", "subject_len",
            "object_start", "object_len", "predicate_id",
        )
        .groupBy("url")
        .applyInPandas(expand, EXPANDED_DDL)
    )
