"""Gold-span search + non-overlap placement (data_util.py:413-421,
data_loader_v2.py:116-163)."""

from pyspark.sql import functions as F

from deepie_spark.operators import goldspan as G


def test_search_basic():
    assert G.search(["b", "c"], ["a", "b", "c", "d"]) == 1
    assert G.search(["x"], ["a", "b"]) == -1
    assert G.search([], ["a"]) == 0  # empty pattern matches at 0
    assert G.search(["a", "b"], ["a"]) == -1


def test_search_spo_longer_subject_placed_first():
    toks = list("xxabcyyabyy")
    # subject 'abc' (3) > object 'ab' (2): subject claims 2..4, object
    # must skip its overlapping first occurrence at 2 and take 7
    s, o = G.search_spo_index(toks, list("abc"), list("ab"))
    assert (s, o) == (2, 7)


def test_search_spo_longer_object_placed_first():
    toks = list("xxabyyabcyy")
    s, o = G.search_spo_index(toks, list("ab"), list("abc"))
    assert o == 6  # object 'abc' first
    assert s == 2  # subject 'ab' at 2 does not overlap [6,9)


def test_search_spo_equal_length_self_reference():
    # "abc loves abc": equal lengths -> object placed first at 0,
    # subject takes the non-overlapping second occurrence
    toks = list("abc") + ["loves"] + list("abc")
    s, o = G.search_spo_index(toks, list("abc"), list("abc"))
    assert o == 0 and s == 4


def test_search_spo_unplaceable():
    # subject placed, object absent -> (-1 only on the missing side)
    s, o = G.search_spo_index(list("abcdef"), list("abc"), list("zz"))
    assert s == 0 and o == -1
    # longer object absent: forbidden stays None, subject still places
    s2, o2 = G.search_spo_index(list("ab"), list("ab"), list("abcd"))
    assert o2 == -1 and s2 == 0
    s3, o3 = G.search_spo_index(list("xxab"), list("ab"), list("abcd"))
    assert o3 == -1 and s3 == 2


def test_search_spo_overlap_scan_continues():
    # subject 'abab' claims 0..3; object 'ab' occurrences at 0 and 2
    # overlap, the one at 4 wins
    toks = list("ababab")
    s, o = G.search_spo_index(toks, list("abab"), list("ab"))
    assert s == 0 and o == 4


def test_gold_spans_distributed(spark, extractor):
    from deepie_spark.operators.extract import stage_texts
    from deepie_spark.sources.synth import corpus_dataframes

    pages_df, gold_df, _ = corpus_dataframes(spark, 60)
    bc = spark.sparkContext.broadcast(extractor)
    texts = stage_texts(pages_df)
    gold = gold_df.select(
        "url", "subject", "predicate",
        F.col("object")["@value"].alias("object_value"),
    )
    out = G.gold_spans(texts, gold, bc, broadcast_gold=True)
    rows = out.collect()
    assert len(rows) == gold.count()
    placed = [r for r in rows if r["subject_start"] >= 0 and r["object_start"] >= 0]
    # the synthetic gold surfaces are in-text by construction: nearly
    # everything places (a few may collide with truncation)
    assert len(placed) >= 0.9 * len(rows)
    # placed spans never overlap (the whole point of the forbidden zone)
    # the reference's forbidden-zone rule: the SECOND-placed (shorter)
    # surface may not START inside the first-placed span
    for r in placed:
        s0, s1 = r["subject_start"], r["subject_start"] + r["subject_len"]
        o0, o1 = r["object_start"], r["object_start"] + r["object_len"]
        if r["subject_len"] > r["object_len"]:
            assert not (s0 <= o0 < s1)
        else:
            assert not (o0 <= s0 < o1)


def test_expand_spoes_v3_sticky_flag_quirk():
    """Verbatim v3 semantics (transformer_mpn_v3/data_loader.py:252-276):
    the duplication flag turns on at the first subject bearing a
    complex-affiliate predicate and never resets — subjects BEFORE it
    (insertion order) don't duplicate, the triggering subject and every
    LATER subject (complex or not) each emit one single-subject
    example."""
    from deepie_spark.operators.goldspan import expand_spoes_v3

    affi = {7, 9, 25, 26, 27}
    spoes = {
        (0, 2): [(5, 1, 0)],           # simple only — before flag: skipped
        (3, 1): [(8, 2, 7)],           # affiliate pred 7 -> flag on, dups
        (10, 2): [(14, 1, 10)],        # simple, AFTER flag -> dups too
    }
    out = expand_spoes_v3(spoes, affi)
    assert out[0] is spoes
    assert out[1:] == [{(3, 1): [(8, 2, 7)]}, {(10, 2): [(14, 1, 10)]}]

    # no affiliate anywhere -> no duplication at all
    assert expand_spoes_v3({(0, 2): [(5, 1, 0)]}, affi) == [
        {(0, 2): [(5, 1, 0)]}
    ]

    # affiliate in the FIRST subject -> every subject duplicates
    spoes2 = {(1, 1): [(4, 1, 25)], (6, 1): [(9, 1, 2)]}
    assert expand_spoes_v3(spoes2, affi)[1:] == [
        {(1, 1): [(4, 1, 25)]}, {(6, 1): [(9, 1, 2)]}
    ]


def test_expand_examples_v3_distributed(spark):
    """Distributed expansion == the pure-python expansion built from the
    same deterministically-ordered rows; variant 0 is the full
    example."""
    from deepie_spark.config.schema import SYNTH_SCHEMA
    from deepie_spark.operators.goldspan import (
        expand_examples_v3,
        expand_spoes_v3,
    )

    rows = [
        # url, subject, predicate, object_value, s1, slen, o1, olen
        ("u1", "s", "founder", "o", 0, 2, 5, 1),
        ("u1", "s", "release_date_in_area", "o", 3, 1, 8, 2),
        ("u1", "s", "nationality", "o", 10, 2, 14, 1),
        ("u2", "s", "author", "o", 0, 1, 3, 1),  # simple-only page
    ]
    df = spark.createDataFrame(
        rows,
        "url string, subject string, predicate string, object_value string, "
        "subject_start int, subject_len int, object_start int, object_len int",
    )
    got = expand_examples_v3(df, SYNTH_SCHEMA).collect()

    pid_of = {p.label: p.pid for p in SYNTH_SCHEMA.predicates}
    expected = set()
    for url in ("u1", "u2"):
        page = sorted(
            [r for r in rows if r[0] == url],
            key=lambda r: (r[6], pid_of[r[2]]),
        )
        spoes = {}
        for _u, _s, pred, _o, s1, slen, o1, olen in page:
            spoes.setdefault((s1, slen), []).append((o1, olen, pid_of[pred]))
        for v, sp in enumerate(
            expand_spoes_v3(spoes, set(SYNTH_SCHEMA.complex_affiliate_ids))
        ):
            for (s1, slen), objs in sp.items():
                for o1, olen, pid in objs:
                    expected.add((url, v, s1, slen, o1, olen, pid))
    assert {
        (r["url"], r["variant"], r["subject_start"], r["subject_len"],
         r["object_start"], r["object_len"], r["predicate_id"])
        for r in got
    } == expected
    # growth: u1 has 3 triples + 2 duplicated subjects (flag from subj 2
    # onward) = 5 label rows; u2 unchanged
    assert len([r for r in got if r["url"] == "u1"]) == 5
    assert len([r for r in got if r["url"] == "u2"]) == 1
