"""BPE merge-rule learning (operators/bpe.py): hand-computed rounds,
leftmost non-overlapping application, deterministic tie-break."""

from crypto_etl_airflow_spark.operators.bpe import bpe_merge_rules


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _plan_lines(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(plan.splitlines())


def test_hand_computed_merge_sequence(spark):
    # vocab: aaab x2, ab x1
    # round 0: (a,a)=4 beats (a,b)=3 → merge  [a,a,a,b]→[aa,a,b]
    # round 1: (a,b)=3 beats (aa,a)=2 → merge [aa,a,b]→[aa,ab], [a,b]→[ab]
    # round 2: (aa,ab)=2                      [aa,ab]→[aaab]
    # round 3: no pairs remain → no rule emitted
    out = bpe_merge_rules(_df(spark, ["aaab aaab ab"]), n_merges=4)
    rules = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in out.orderBy("merge_rank").collect()
    ]
    assert rules == [(0, "a", "a", 4), (1, "a", "b", 3), (2, "aa", "ab", 2)]


def test_leftmost_nonoverlapping_application(spark):
    # 'aaaa': pairs (a,a) counted at 3 positions; after merging (a,a)
    # leftmost-first the word becomes [aa, aa] — NOT [aa, a, a] or a
    # re-merged [aaa, a]
    out = bpe_merge_rules(_df(spark, ["aaaa"]), n_merges=2)
    rules = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in out.orderBy("merge_rank").collect()
    ]
    # round 0: (a,a) = 3 occurrences; round 1: [aa,aa] → (aa,aa) = 1
    assert rules == [(0, "a", "a", 3), (1, "aa", "aa", 1)]


def test_tie_break_is_lexicographic(spark):
    # 'xy' and 'ab' both appear once: (a,b) and (x,y) tie at 1;
    # (a,b) wins lexicographically
    out = bpe_merge_rules(_df(spark, ["xy ab"]), n_merges=1)
    r = out.first()
    assert (r.left_sym, r.right_sym, r.pair_count) == ("a", "b", 1)


def test_word_frequencies_weight_pairs(spark):
    # 'cd' appears 3 times as a word, 'ef' once → (c,d) count 3
    out = bpe_merge_rules(_df(spark, ["cd cd", "cd ef"]), n_merges=1)
    r = out.first()
    assert (r.left_sym, r.right_sym, r.pair_count) == ("c", "d", 3)


def test_token_counts_compression(spark):
    # after learning on 'abab abab cd', rules merge a+b then ab+ab;
    # doc tokenization must reflect the merged symbol counts
    from crypto_etl_airflow_spark.operators.bpe import bpe_token_counts

    out = bpe_token_counts(
        _df(spark, ["abab abab", "cd"]), n_merges=2
    ).orderBy("doc_id").collect()
    # rules: (a,b) count 4 -> 'abab'=[ab,ab]; then (ab,ab) count 2 -> [abab]
    d0, d1 = out
    assert (d0.n_words, d0.n_chars, d0.n_bpe_tokens) == (2, 8, 2)
    assert d0.compression == 4.0
    # 'cd' untouched by the learned rules -> stays 2 chars, 2 symbols
    assert (d1.n_words, d1.n_chars, d1.n_bpe_tokens) == (1, 2, 2)
    assert d1.compression == 1.0


def test_token_counts_survive_exhausted_rules(spark):
    # only 3 merges are learnable from this corpus; requesting 4 must
    # NOT drop documents (regression: an empty rule cross-joined into
    # the words table annihilated every row)
    from crypto_etl_airflow_spark.operators.bpe import bpe_token_counts

    out = bpe_token_counts(
        _df(spark, ["aaab aaab ab"]), n_merges=4
    ).collect()
    assert len(out) == 1
    r = out[0]
    # 'aaab' x2 and 'ab' all collapse to single symbols by merge 3
    assert (r.n_words, r.n_chars, r.n_bpe_tokens) == (3, 10, 3)


def test_token_counts_plan_size_is_constant(spark):
    """The learned rules fold over each word in one ``F.aggregate``
    over a literal array, so the optimized plan of bpe_token_counts has
    the same size at any merge count."""
    from .conftest import SF_SMOKE
    from crypto_etl_airflow_spark.operators.bpe import bpe_token_counts

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert _plan_lines(bpe_token_counts(docs, n_merges=4)) == _plan_lines(
        bpe_token_counts(docs, n_merges=8)
    )


def test_learn_releases_every_round_snapshot(spark):
    """Every round's vocabulary checkpoint is released: the stored-RDD
    count does not grow across a 16-round learn."""
    from crypto_etl_airflow_spark.operators.bpe import learn_bpe_rules_scalable

    def stored():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = stored()
    rules = learn_bpe_rules_scalable(
        _df(spark, ["abcdefghijklmnopqrstuvwxyz"]), n_merges=16
    )
    assert len(rules) == 16
    assert stored() <= before


def test_collected_rules_path_equals_dataflow(spark):
    """apply_bpe_rules (collected rules + one mapInPandas stage) must
    produce row-identical output to the JVM-fold dataflow path —
    the property that licenses swapping it in at real vocab sizes."""
    from crypto_etl_airflow_spark.operators.bpe import (
        apply_bpe_rules,
        bpe_merge_rules,
        bpe_token_counts,
    )

    corpora = [
        ["abab abab cd", "cd cd abab", "aaab ab a"],
        ["the cat sat", "the cat", "a dog sat on the mat", "  ", "x"],
        # non-ASCII (ADVICE r8): casing now happens JVM-side in BOTH
        # paths, so accented/Greek/dotted-İ text must agree too
        ["Ünïcödé ÜNÏCÖDÉ tëst", "ΣΊΣΥΦΟΣ σίσυφος", "İstanbul ıı İİ"],
    ]
    for texts in corpora:
        df = _df(spark, texts)
        for n in (2, 4, 8):
            rules = bpe_merge_rules(df, n_merges=n).orderBy(
                "merge_rank"
            ).collect()
            a = sorted(
                tuple(r) for r in bpe_token_counts(df, n_merges=n).collect()
            )
            b = sorted(tuple(r) for r in apply_bpe_rules(df, rules).collect())
            assert a == b, (texts, n)


def test_collected_rules_path_on_fixture(spark):
    """Fixture-corpus equality incl. NULL-text handling, plus tuple
    rules and empty-rules edge cases."""
    from .conftest import SF_SMOKE
    from crypto_etl_airflow_spark.operators.bpe import (
        apply_bpe_rules,
        bpe_merge_rules,
        bpe_token_counts,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rules = bpe_merge_rules(docs, n_merges=4).orderBy("merge_rank").collect()
    a = sorted(tuple(r) for r in bpe_token_counts(docs, n_merges=4).collect())
    b = sorted(tuple(r) for r in apply_bpe_rules(docs, rules).collect())
    assert a == b
    # plain (left, right) tuples work identically to Rows
    tup = [(r.left_sym, r.right_sym) for r in rules]
    c = sorted(tuple(r) for r in apply_bpe_rules(docs, tup).collect())
    assert b == c
    # empty rule list: every word stays fully character-split
    base = apply_bpe_rules(docs, []).collect()
    assert all(r.n_bpe_tokens == r.n_chars for r in base)


def test_scalable_learner_production_merge_count(spark):
    """VERDICT r8 item 3: learn >=256 merges with the lineage-truncated
    learner, apply with apply_bpe_rules, and pin the two scale claims —
    constant apply-plan depth and constant per-round learner cost.

    The sf0.001 fixture alone tops out at 107 possible merges (31
    distinct words, sum(len-1) = 107), so the corpus is augmented with
    a deterministic synthetic vocabulary to make 256 rounds reachable."""
    from pyspark.sql import functions as F

    from .conftest import SF_SMOKE
    from crypto_etl_airflow_spark.operators.bpe import (
        apply_bpe_rules,
        learn_bpe_rules_scalable,
    )

    fixture = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    synth = spark.range(400).select(
        (F.col("id") + 100000).alias("doc_id"),
        F.concat(
            F.lit("corpus"), F.col("id").cast("string"),
            F.lit("x demonstration"), F.col("id").cast("string"),
            F.lit("y vocabulary"), (F.col("id") * 7).cast("string"),
        ).alias("text"),
    )
    docs = fixture.unionByName(synth)

    timings = []
    rules = learn_bpe_rules_scalable(
        docs, n_merges=256, timings_out=timings
    )
    assert len(rules) == 256
    assert [r.merge_rank for r in rules] == list(range(256))

    # constant-depth apply: the optimized plan must not grow with the
    # rule count (rules live in the UDF closure, not the plan)
    few, many = apply_bpe_rules(docs, rules[:4]), apply_bpe_rules(docs, rules)
    assert _plan_lines(many) == _plan_lines(few)

    # constant per-round learner cost: the last rounds must not cost
    # materially more than the first (3x bound absorbs host noise; a
    # plan that grew per round would blow past it)
    first, last = timings[:64], timings[-64:]
    assert sum(last) / len(last) < 3 * (sum(first) / len(first)), (
        sum(first) / 64, sum(last) / 64,
    )

    # spot-value parity on sampled documents vs an independent fold
    merges = [(r.left_sym, r.right_sym) for r in rules]

    def encode_len(word):
        syms = list(word)
        for left, right in merges:
            out = [syms[0]]
            for s in syms[1:]:
                if out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms = out
        return len(syms)

    sample = {r.doc_id: r for r in many.filter(
        F.col("doc_id").isin(0, 1, 100005, 100399)
    ).collect()}
    texts = {r.doc_id: r.text for r in docs.filter(
        F.col("doc_id").isin(0, 1, 100005, 100399)
    ).collect()}
    assert len(sample) == 4
    for did, row in sample.items():
        words = [w for w in texts[did].lower().split() if w]
        assert row.n_bpe_tokens == sum(encode_len(w) for w in words), did
