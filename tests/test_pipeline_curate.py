"""Composed curation pipeline (plans/pipeline_curate.py): the oracle
certifies VALUES; these tests pin that the composition has TEETH —
each stage demonstrably drops documents on the planted corpus — and
that the funnel is internally consistent with the manifest."""

from pyspark.sql import functions as F

from crypto_etl_airflow_spark.plans.pipeline_curate import (
    pipeline_curate_corpus,
    pipeline_curate_funnel,
)

SF = "/root/testdata/sf0.001"


def test_every_stage_fires_and_funnel_matches_manifest(spark):
    funnel = {
        r.stage: (r.n_docs, r.n_tokens)
        for r in pipeline_curate_funnel(spark, SF).collect()
    }
    order = [
        "0_input",
        "1_gate_gopher",
        "2_gate_classifier",
        "3_gate_perplexity",
        "4_dedup_exact",
        "5_dedup_minhash",
        "6_dedup_semantic",
        "7_sampled",
    ]
    docs = [funnel[s][0] for s in order]
    assert docs[0] == 600  # 500 fixture docs + 50 clones + 50 near-dups
    # EVERY stage strictly drops documents on the planted corpus
    # (Gopher kills zh + short docs; the TRAINED classifier drops the
    # junk-lexicon arm — blocklist weak supervision, VERDICT r12
    # item 2; perplexity cuts the top 20%; exact kills the
    # byte-identical clones; minhash the one-token-tail near-dups;
    # semantic the embedding near-dups; admission enforces the
    # per-language budgets)
    for i, (a, b) in enumerate(zip(docs, docs[1:])):
        assert b < a, (order[i + 1], a, b)
    assert docs[-1] > 0
    # manifest totals == the funnel's final stage
    man = pipeline_curate_corpus(spark, SF)
    tot = man.agg(
        F.sum("n_docs").alias("d"), F.sum("n_tokens").alias("t")
    ).first()
    assert (int(tot.d), int(tot.t)) == funnel["7_sampled"]
    # packing bookkeeping: bins never run backwards across shards
    rows = sorted(
        (r.shard_id, r.first_bin, r.last_bin) for r in man.collect()
    )
    for (s1, f1, l1), (s2, f2, l2) in zip(rows, rows[1:]):
        assert l1 <= f2 + 1 and f2 >= f1  # contiguous global stream


def test_cluster_safe_barriers_are_value_identical(spark, tmp_path):
    """The parquet and reliable-checkpoint phase barriers (the
    cluster-safe forms of the default localCheckpoint, VERDICT r12)
    produce a byte-identical shard manifest: the barrier changes
    fault posture and IO, never values."""
    base = sorted(
        map(tuple, pipeline_curate_corpus(spark, SF).collect())
    )
    via_parquet = sorted(
        map(
            tuple,
            pipeline_curate_corpus(
                spark,
                SF,
                barrier="parquet",
                checkpoint_dir=str(tmp_path / "stages"),
            ).collect(),
        )
    )
    assert via_parquet == base
    via_ckpt = sorted(
        map(
            tuple,
            pipeline_curate_corpus(
                spark,
                SF,
                barrier="checkpoint",
                checkpoint_dir=str(tmp_path / "ckpt"),
            ).collect(),
        )
    )
    assert via_ckpt == base


def test_barrier_mode_validation(spark):
    import pytest

    from crypto_etl_airflow_spark.plans.pipeline_curate import _barrier_fn

    with pytest.raises(ValueError, match="requires checkpoint_dir"):
        _barrier_fn(spark, "parquet", None)
    with pytest.raises(ValueError, match="unknown barrier"):
        _barrier_fn(spark, "nope", "/tmp/x")


def test_trained_gate_drops_every_planted_junk_doc(spark):
    """The in-pipeline classifier (NB log-odds from blocklist weak
    supervision) must remove the ENTIRE junk-lexicon class that
    survives Gopher — the learned-weights teeth VERDICT r12 asked
    for — while cutting few clean docs (the fit generalizes, it
    doesn't memorize the corpus)."""
    from crypto_etl_airflow_spark.plans.pipeline_curate import _JUNK, _stages

    s = _stages(spark, SF)
    g1, g2 = s["g1"], s["g2"]
    junk = F.col("text").contains(_JUNK)
    assert g1.filter(junk).count() > 0  # the plant reaches the gate
    assert g2.filter(junk).count() == 0  # ...and the gate kills it
    dropped_clean = (
        g1.filter(~junk)
        .join(g2.select("doc_id"), "doc_id", "left_anti")
        .count()
    )
    assert dropped_clean <= 0.05 * g1.filter(~junk).count()


def test_text_chain_error_leaves_no_running_fit_thread(spark, monkeypatch):
    """A raise in the text chain propagates, and the SemDeDup branch's
    pool thread exits once its in-flight fit returns (the pool is shut
    down with pending work cancelled — no thread left running)."""
    import threading

    import pytest

    from crypto_etl_airflow_spark.operators import parallel
    from crypto_etl_airflow_spark.plans import pipeline_curate

    started, release = threading.Event(), threading.Event()
    fit_thread = {}

    def slow_fit(*args, **kwargs):
        fit_thread["t"] = threading.current_thread()
        started.set()
        release.wait(60)

    def failing_widen(df):
        # raise only once the fit is in flight, so the shutdown
        # cannot simply cancel it before it starts
        assert started.wait(60)
        raise RuntimeError("text chain failed")

    monkeypatch.setattr(pipeline_curate, "semdedup_keep", slow_fit)
    monkeypatch.setattr(parallel, "widen_small_input", failing_widen)
    # the caller keeps the traceback (and with it the failed frame)
    # alive, so only an explicit shutdown can let the thread exit
    with pytest.raises(RuntimeError, match="text chain failed") as err:
        pipeline_curate._stages(spark, SF)
    t = fit_thread["t"]
    assert t.is_alive()  # the in-flight fit is not interrupted
    release.set()
    t.join(60)
    assert not t.is_alive()
    assert err.traceback
