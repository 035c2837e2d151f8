"""Iterative BPE training (VERDICT r4 #7): the distributed trainer must
match a sequential reference implementation round-for-round -- same merge
picked each round (count + tie order) and same final token arrays."""

import pandas as pd
import pytest

from osmnetfusion_spark.operators import textstats as TS


def _seq_bpe(texts, n_merges, min_count=2, delim=" "):
    """Sequential reference: the textbook greedy trainer."""
    corpora = [[t for t in s.split(delim) if t != ""] for s in texts]
    merges = []
    for rnd in range(n_merges):
        counts = {}
        for toks in corpora:
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        cands = [(c, a, b) for (a, b), c in counts.items() if c >= min_count]
        if not cands:
            break
        # explicit total order: cnt desc, then (left, right) asc
        best = sorted(cands, key=lambda t: (-t[0], t[1], t[2]))[0]
        cnt, left, right = best
        merges.append((rnd, left, right, cnt))
        merged = left + TS.BPE_SEP + right
        new_corpora = []
        for toks in corpora:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            new_corpora.append(out)
        corpora = new_corpora
    return merges, corpora


TEXTS = [
    "the cat sat on the mat",
    "the cat sat on the cat",
    "a cat a cat a cat",
    "the mat the mat the mat",
    "on on on on on",
    "",
    "solo",
]


def test_bpe_train_matches_sequential_twin(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": TEXTS * 3}))
    merges_df, tok_df = TS.bpe_train(df, n_merges=6)
    got = [(r.round, r.left, r.right, r.cnt) for r in merges_df.orderBy("round").collect()]
    want_merges, want_corpora = _seq_bpe(TEXTS * 3, 6)
    assert got == want_merges
    got_tokens = sorted(tuple(r.toks) for r in tok_df.collect())
    assert got_tokens == sorted(map(tuple, want_corpora))


def test_bpe_train_early_stop_and_zero_rounds(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["x y z", "p q r"]}))
    merges_df, _ = TS.bpe_train(df, n_merges=5)  # no pair reaches min_count=2
    assert merges_df.count() == 0
    merges_df, tok_df = TS.bpe_train(df, n_merges=0)
    assert merges_df.count() == 0 and tok_df.count() == 2
    with pytest.raises(ValueError, match="n_merges"):
        TS.bpe_train(df, n_merges=-1)


def test_bpe_train_deterministic_across_partitioning(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": TEXTS * 5}))
    a, _ = TS.bpe_train(df.repartition(1), n_merges=4)
    b, _ = TS.bpe_train(df.repartition(17), n_merges=4)
    assert a.orderBy("round").collect() == b.orderBy("round").collect()


def test_apply_bpe_merge_nonoverlapping(spark):
    """'a a a a' under merge (a,a) -> [aa, aa], never [aaa...]: the fold's
    merged tail (contains BPE_SEP) can't re-match as the left element."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"toks": [["a", "a", "a"], ["a", "a", "a", "a"], ["b", "a", "a", "b"]]})
    )
    out = [
        tuple(r.m)
        for r in df.select(
            TS.apply_bpe_merge(F.col("toks"), "a", "a").alias("m")
        ).collect()
    ]
    aa = "a" + TS.BPE_SEP + "a"
    assert out == [(aa, "a"), (aa, aa), ("b", aa, "b")]


def test_pmi_phrases_finds_planted_collocation(spark):
    """'san francisco' always co-occurs; 'the' pairs with everything --
    the discounted lift must rank the collocation first and must not
    surface high-frequency-but-independent pairs above it."""
    import pyspark.sql.functions as F

    rows = (
        ["san francisco is a nice place in the sun"] * 8
        # filler re-uses every non-collocation word in a scrambled order
        # so no sentence-1 bigram repeats, but all its unigrams get common
        + ["place nice a sun in is the a sun is in place nice the"] * 8
        # san/francisco also occur apart -- the collocation must win on
        # lift, not just on raw pair frequency
        + ["san nothing francisco nothing"] * 4
    )
    df = spark.createDataFrame(pd.DataFrame({"text": rows}))
    out = TS.pmi_phrases(df, k=5, min_count=3, delta=0.0).collect()
    assert out[0].pair == "san francisco", out
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)
    # plan: distributed partial top-k, not a global window
    plan = TS.pmi_phrases(df, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
