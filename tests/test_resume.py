"""Resumability (SURVEY.md §5.2.4, BASELINE.json north rule): kill after
stage k, restart, identical final triples; checkpoint counters monotone."""

from __future__ import annotations

import pandas as pd

from reach_banner_spark import schemas


def _triples_set(df):
    pdf = df.toPandas()
    cols = ["conv_id", "window_start", "subj", "pred", "obj"]
    return {tuple(r) for r in pdf[cols].astype(str).itertuples(index=False, name=None)}


def test_resume_identical_triples(spark, small_turns, lexicon_pdf, model_path, tmp_path):
    from reach_banner_spark.plans.checkpoint import run_pipeline_checkpointed

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(turns_pdf, schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)
    root = str(tmp_path / "ck")

    # full run (cold)
    t1, cp1 = run_pipeline_checkpointed(spark, turns, lexicon, model_path, root)
    set1 = _triples_set(t1)
    assert cp1.stages_run == ["mentions", "linked", "canonical", "triples"]
    assert cp1.stages_resumed == []

    # simulate a crash after stage 2: drop the downstream stage outputs
    import shutil

    shutil.rmtree(f"{root}/canonical")
    shutil.rmtree(f"{root}/triples")

    # resume: upstream stages must be reused, downstream recomputed
    t2, cp2 = run_pipeline_checkpointed(spark, turns, lexicon, model_path, root)
    assert cp2.stages_resumed == ["mentions", "linked"]
    assert cp2.stages_run == ["canonical", "triples"]
    set2 = _triples_set(t2)
    assert set1 == set2

    # third run: everything resumes, nothing recomputes
    t3, cp3 = run_pipeline_checkpointed(spark, turns, lexicon, model_path, root)
    assert cp3.stages_run == []
    assert cp3.stages_resumed == ["mentions", "linked", "canonical", "triples"]
    assert _triples_set(t3) == set1

    # ledger counters are per-partition and monotone (appends only)
    ledger = cp3.ledger()
    assert ledger, "empty checkpoint ledger"
    assert all(e["rows_out"] >= 0 for e in ledger)
    stages = {e["stage"] for e in ledger}
    assert stages == {"mentions", "linked", "canonical", "triples"}


def test_manifest_partition_stats(spark, small_turns, tmp_path):
    from reach_banner_spark.sources import tables

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(turns_pdf, schema=schemas.TURNS)
    path = str(tmp_path / "tbl")
    manifest = tables.write_graph_table(turns, path, bucket_col="conv_id", n_buckets=8)
    assert manifest["total_rows"] == len(turns_pdf)
    back = tables.read_graph_table(spark, path)
    assert back.count() == len(turns_pdf)
    assert sorted(back.columns) == sorted(turns.columns)
    # re-write produces identical content hashes (determinism)
    manifest2 = tables.write_graph_table(turns, path, bucket_col="conv_id", n_buckets=8)
    assert manifest["partitions"] == manifest2["partitions"]


def test_resume_invalidated_by_config_and_model(
    spark, small_turns, lexicon_pdf, model_path, tmp_path
):
    """Lineage covers stage parameters, model content and lexicon
    content: rerunning on an existing checkpoint root after changing
    window_turns, retraining the model or remapping an alias must
    recompute, never return stale stage outputs."""
    import shutil

    from reach_banner_spark.plans.checkpoint import run_pipeline_checkpointed

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(turns_pdf, schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)
    root = str(tmp_path / "ck2")

    _t1, cp1 = run_pipeline_checkpointed(
        spark, turns, lexicon, model_path, root, window_turns=2
    )
    assert cp1.stages_resumed == []

    # same root, different window_turns: triples stage must rebuild
    t2, cp2 = run_pipeline_checkpointed(
        spark, turns, lexicon, model_path, root, window_turns=3
    )
    assert "triples" in cp2.stages_run, "stale triples returned for new window_turns"
    assert "mentions" in cp2.stages_resumed  # upstream unaffected

    # 'retrained' model (different bytes at a new path): mentions must rebuild
    model2 = str(tmp_path / "model2.npz")
    shutil.copy(model_path, model2)
    with open(model2, "ab") as f:
        f.write(b"\x00")
    _t3, cp3 = run_pipeline_checkpointed(
        spark, turns, lexicon, model2, root, window_turns=3
    )
    assert "mentions" in cp3.stages_run, "stale mentions returned for new model"

    # one alias remapped to another entity: linking and canonicalization
    # must rebuild, the mentions stage does not depend on the lexicon
    lex2 = lexicon_pdf.copy()
    lex2.loc[0, "entity_id"] = int(lexicon_pdf["entity_id"].max()) + 1
    lexicon2 = spark.createDataFrame(lex2, schema=schemas.LEXICON)
    _t4, cp4 = run_pipeline_checkpointed(
        spark, turns, lexicon2, model2, root, window_turns=3
    )
    assert "mentions" in cp4.stages_resumed
    assert {"linked", "canonical"} <= set(cp4.stages_run), (
        "stale linked/canonical returned for a changed lexicon"
    )

    # a new entity that only changes a component representative (no
    # mention spells its alias): the linked table comes out the same, so
    # only the canonical stage's own lexicon fingerprint can rebuild it
    lex3 = pd.concat(
        [lex2, pd.DataFrame([("qqqq", "STAT3", 1, "GENE")], columns=lex2.columns)],
        ignore_index=True,
    )
    lexicon3 = spark.createDataFrame(lex3, schema=schemas.LEXICON)
    _t5, cp5 = run_pipeline_checkpointed(
        spark, turns, lexicon3, model2, root, window_turns=3
    )
    assert "canonical" in cp5.stages_run, "stale canonical for new representatives"


def test_flush_releases_caches_when_a_finalizer_fails(spark, tmp_path, monkeypatch):
    """A failed background finalizer must surface from flush()/ledger()
    without leaving the pipeline's stage caches in executor storage."""
    import pytest

    from reach_banner_spark.plans import checkpoint

    def boom(*args, **kwargs):
        raise RuntimeError("finalizer failed")

    monkeypatch.setattr(checkpoint.tables, "finalize_graph_manifest", boom)
    for call in ("flush", "ledger"):
        cp = checkpoint.CheckpointedPipeline(spark, str(tmp_path / call))
        out = cp.stage("s", lambda: spark.range(8).withColumnRenamed("id", "conv_id"))
        assert out.is_cached
        with pytest.raises(RuntimeError, match="finalizer failed"):
            getattr(cp, call)()
        assert not out.is_cached
        assert not cp._cached and not cp._pending
