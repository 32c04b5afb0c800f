"""BPE merge-rule learning and application (tokenizer fitting).

Byte-pair encoding's training loop — count adjacent symbol pairs over
the word vocabulary, merge the most frequent pair, repeat — expressed
as DataFrame operations (Sennrich et al. 2016, the standard
subword-vocabulary algorithm every LLM tokenizer descends from):

- the word vocabulary is one grouped count over the corpus (words
  carry their corpus frequency, so each round aggregates VOCABULARY
  rows, not corpus rows — the classic trick that makes BPE training
  corpus-size-independent after the first pass);
- each round's winning pair (deterministic tie-break: count desc, then
  lexicographic) is collected to the driver — 1 row of TOKENIZER
  METADATA per round — and applied to the next round's vocabulary as
  literal columns;
- merge application is an ``F.aggregate`` fold over the symbol list
  (leftmost, non-overlapping — exact BPE semantics), a pure array
  expression the DuckDB oracle mirrors with ``list_reduce``.

Scale posture: round r touches |vocab| rows (millions at 100 TB, not
billions). Each round's vocabulary is materialized behind a lineage
barrier and the previous round's released, so round r+1 reads one
stored snapshot and every round's plan has the same size.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .barrier import barrier, release


def _adjacent_pairs(syms: Column) -> Column:
    """Array of (l, r) structs for each adjacent symbol pair."""
    idx = F.when(
        F.size(syms) >= 2, F.sequence(F.lit(1), F.size(syms) - 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(syms, i).alias("l"),
            F.element_at(syms, i + 1).alias("r"),
        ),
    )


def _apply_merge(syms: Column, left: Column, right: Column) -> Column:
    """Fold the merge rule (left, right) → left||right over the
    symbol list, leftmost-first and non-overlapping (a freshly merged
    symbol never re-merges with the following element in the same
    round — exact BPE application order)."""
    tail = F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0)))
    init = F.slice(syms, 1, 1)
    return F.aggregate(
        tail,
        init,
        lambda acc, s: F.when(
            (F.element_at(acc, -1) == left) & (s == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(left, right)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the whitespace-lowercased corpus."""
    return (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_merge_rules(
    df: DataFrame, text_col: str = "text", n_merges: int = 4
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from the corpus:
    ``(merge_rank, left_sym, right_sym, pair_count)`` — one row per
    learned merge, in learning order, over a driver-local relation.
    A corpus that exhausts its pairs early gives fewer rows."""
    return local_frame(
        df.sparkSession,
        learn_bpe_rules_scalable(df, text_col, n_merges),
        "merge_rank int, left_sym string, right_sym string, pair_count long",
    )


def bpe_token_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 4,
) -> DataFrame:
    """Tokenize every document with the corpus-learned merge rules
    and report per-document token statistics:

    ``(id_col, n_words, n_chars, n_bpe_tokens, compression)``

    where ``compression = n_chars / n_bpe_tokens`` (chars per BPE
    token — the number a tokenizer-budget estimate needs). The
    tokenization pass is linear and JVM-only: explode to words, fold
    the learned rules — a literal array of ``(l, r)`` structs — over
    each word's symbols in ONE ``F.aggregate``, one grouped count at
    the end. The plan has the same size at any ``n_merges``."""
    # the cast types an empty rule list, which is array<null> otherwise
    rules = F.array(
        *[
            F.struct(
                F.lit(r.left_sym).alias("l"), F.lit(r.right_sym).alias("r")
            )
            for r in learn_bpe_rules_scalable(df, text_col, n_merges)
        ]
    ).cast("array<struct<l:string,r:string>>")
    words = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .select(
            id_col,
            "word",
            F.aggregate(
                rules,
                F.split("word", ""),
                lambda syms, m: _apply_merge(syms, m["l"], m["r"]),
            ).alias("syms"),
        )
    )
    return words.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.sum(F.length("word")).cast("long").alias("n_chars"),
        F.sum(F.size("syms")).cast("long").alias("n_bpe_tokens"),
        F.round(
            F.sum(F.length("word")) / F.sum(F.size("syms")), 6
        ).alias("compression"),
    )


def learn_bpe_rules_scalable(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 256,
    timings_out: list | None = None,
) -> list:
    """The BPE learner: vocabulary aggregation, adjacent-pair count,
    deterministic argmax and leftmost non-overlapping fold, with
    CONSTANT per-round cost at any ``n_merges``:

    - each round's vocabulary is materialized with a local
      :func:`.barrier.barrier`, which TRUNCATES lineage: round r+1's
      plan reads a checkpointed table instead of nesting rounds 0..r,
      so Catalyst analysis cost stays flat across rounds;
    - each round's winning pair is collected to the driver as it is
      learned — 1 row/round of TOKENIZER METADATA (rules are
      kilobytes; corpus data never moves) — and the next round
      applies it as literals;
    - the previous round's checkpoint is released
      (:func:`.barrier.release`) once the next is materialized, and
      the last one before returning, so executor storage holds at
      most two vocabulary snapshots during a learn and none after it.

    Returns ``Row(merge_rank, left_sym, right_sym, pair_count)`` in
    merge order — directly consumable by :func:`apply_bpe_rules`.
    Stops early when the vocabulary exhausts its pairs (every word a
    single symbol). Wall time is linear in ``n_merges``; pass
    ``timings_out`` to receive per-round seconds (the linearity
    contract tests/test_bpe.py pins).

    Per-round work is |vocab| rows, corpus-size-independent after the
    first aggregation — at 100 TB the vocabulary (millions of words)
    still fits one executor's cache, and 30k rounds × (one vocab agg
    + one vocab rewrite) is the same job count every production BPE
    trainer pays."""
    cur = barrier(
        word_vocab(df, text_col).select(
            "word", "freq", F.split("word", "").alias("syms")
        )
    )
    rules: list = []
    try:
        for rank in range(n_merges):
            t0 = time.perf_counter()
            best = (
                cur.select(
                    "freq",
                    F.explode(_adjacent_pairs(F.col("syms"))).alias("p"),
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("pair_count"))
                .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
                .first()
            )
            if best is None:  # pairs exhausted before n_merges
                break
            rules.append(
                Row(
                    merge_rank=rank,
                    left_sym=best.l,
                    right_sym=best.r,
                    pair_count=best.pair_count,
                )
            )
            if rank < n_merges - 1:
                nxt = barrier(
                    cur.select(
                        "word",
                        "freq",
                        _apply_merge(
                            F.col("syms"), F.lit(best.l), F.lit(best.r)
                        ).alias("syms"),
                    )
                )
                release(cur)  # safe: `nxt` is materialized
                cur = nxt
            if timings_out is not None:
                timings_out.append(time.perf_counter() - t0)
    finally:
        release(cur)
    return rules


def apply_bpe_rules(
    df: DataFrame,
    rules: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scale-path BPE APPLICATION: tokenize with an already-learned
    rule list in ONE Arrow-batched ``mapInPandas`` stage.

    ``rules`` is the collected merge-rule table — ``Row``s with
    ``left_sym``/``right_sym`` (and optionally ``merge_rank``, used to
    sort) or plain ``(left, right)`` tuples in merge order. Collecting
    it is an API-edge collect of TOKENIZER METADATA (30k–100k rows for
    a production vocabulary — kilobytes, not corpus data); the rules
    ship to executors inside the UDF closure, i.e. a broadcast.

    Why this exists alongside :func:`bpe_token_counts`: both folds
    keep a constant-size plan, but this one runs each distinct word of
    a task once in Python, where the JVM fold runs every rule over
    every word row. Measured on 4 cores, noop-sink action: at 256
    rules over 900 documents (the sf0.001 fixture plus 400 synthetic
    ones) this took 0.7–3.5 s against 12.6–15.2 s for the JVM fold,
    and at sf0.1 with 4 rules 0.43–0.63 s warm against 8.6–9.9 s. The
    registered ``text_bpe_token_counts`` stays on the JVM fold because
    its plan must hold no Python evaluation. The two are
    property-tested row-equal
    (tests/test_bpe.py::test_collected_rules_path_equals_dataflow).

    Output schema matches :func:`bpe_token_counts`:
    ``(id_col, n_words, n_chars, n_bpe_tokens, compression)``; rows
    are per input document, documents with no words are dropped, the
    final ``compression`` rounding happens in Spark so both paths
    round identically.

    100 TB posture: linear single pass, no shuffle at all until the
    caller aggregates; per-task unique-word memoization makes the cost
    proportional to distinct words per partition, mirroring the
    vocabulary trick of the learner.
    """
    norm: list[tuple[str, str]] = []
    seq = rules
    if seq and hasattr(seq[0], "merge_rank"):
        seq = sorted(seq, key=lambda r: r.merge_rank)
    for r in seq:
        if hasattr(r, "left_sym"):
            norm.append((r.left_sym, r.right_sym))
        else:
            left, right = r
            norm.append((left, right))

    # closure, NOT a module-level function: cloudpickled by value so
    # executors launched by drivers outside the repo root need no
    # crypto_etl_airflow_spark import (sources/http_datasource.py has
    # the same constraint)
    merges = tuple(norm)
    id_name, text_name = id_col, text_col

    def _tokenize(batches):
        import re

        import pandas as pd

        # ASCII flag: Java's \s (the dataflow path's split) is
        # [ \t\n\x0B\f\r] only; Python's default \s is Unicode-wide
        ws = re.compile(r"\s+", re.ASCII)
        cache: dict[str, int] = {}  # word -> token count (per task)

        def n_tokens(word: str) -> int:
            hit = cache.get(word)
            if hit is not None:
                return hit
            syms = list(word)
            for left, right in merges:
                if len(syms) < 2:
                    break
                out = [syms[0]]
                for s in syms[1:]:
                    if out[-1] == left and s == right:
                        out[-1] = left + right
                    else:
                        out.append(s)
                syms = out
            cache[word] = len(syms)
            return len(syms)

        for pdf in batches:
            ids, n_words, n_chars, n_toks = [], [], [], []
            for did, text in zip(pdf[id_name], pdf[text_name]):
                if not isinstance(text, str):
                    continue  # NULL text: no words, row dropped
                words = [w for w in ws.split(text) if w]
                if not words:
                    continue
                ids.append(did)
                n_words.append(len(words))
                n_chars.append(sum(len(w) for w in words))
                n_toks.append(sum(n_tokens(w) for w in words))
            yield pd.DataFrame(
                {
                    id_name: pd.Series(ids, dtype="int64"),
                    "n_words": pd.Series(n_words, dtype="int64"),
                    "n_chars": pd.Series(n_chars, dtype="int64"),
                    "n_bpe_tokens": pd.Series(n_toks, dtype="int64"),
                }
            )

    # lowercase JVM-SIDE (ADVICE r8): Python str.lower() and Spark's
    # lower() can disagree on some non-ASCII code points (Unicode
    # version / special-casing differences), which would break the
    # claimed row-identical equivalence with the dataflow twin on
    # non-ASCII corpora. Using F.lower here makes both paths share the
    # exact same casing implementation.
    counted = df.select(id_col, F.lower(F.col(text_col)).alias(text_col)).mapInPandas(
        _tokenize,
        schema=f"{id_col} long, n_words long, n_chars long, "
        "n_bpe_tokens long",
    )
    return counted.select(
        id_col,
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6).alias(
            "compression"
        ),
    )
