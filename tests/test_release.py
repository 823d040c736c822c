"""Release pipeline: end-to-end invariants over the shipped artifact —
no PII, no eval-set docs, no contaminated docs, only prep-kept docs,
split-partitioned layout, bounded shards, consistent report."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.corpus_ops import corpus_prep
from monday_etl_automation_spark.plans.decontam_ops import _BENCH_MOD, _PII_PATTERNS, _rx
from monday_etl_automation_spark.plans.release_ops import (
    _contaminated_ids,
    release_training_corpus,
)
from monday_etl_automation_spark.sources.tables import register_views

_PACK_BUDGET = 128
_FILE_BUDGET = 2048


@pytest.fixture(scope="module")
def run(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("release"))
    summary = release_training_corpus(
        spark,
        sf_dir,
        out,
        pack_budget=_PACK_BUDGET,
    )
    return out, {r.stage: r.n for r in summary.collect()}


def test_released_docs_are_exactly_the_survivors(spark, sf_dir, run):
    out, report = run
    released = spark.read.parquet(f"{out}/released")
    got = {r.doc_id for r in released.select("doc_id").collect()}

    kept = {
        r.doc_id
        for r in corpus_prep(spark, sf_dir).where("disposition = 'kept'").collect()
    }
    register_views(spark, sf_dir)
    contam = {r.doc_id for r in _contaminated_ids(spark).collect()}
    want = {d for d in kept if d % _BENCH_MOD != 0 and d not in contam}
    assert got == want
    # report counters reconcile
    assert report["released_total"] == len(want)
    assert report["kept_after_prep"] == len(kept)
    assert report["excluded_benchmark"] == sum(1 for d in kept if d % _BENCH_MOD == 0)
    assert (
        report["released_total"]
        + report["excluded_benchmark"]
        + report["dropped_contaminated"]
        == report["kept_after_prep"]
    )
    splits_sum = sum(v for k, v in report.items() if k.startswith("released_") and k != "released_total")
    assert splits_sum == report["released_total"]


def test_released_text_carries_zero_pii(spark, run):
    out, _ = run
    released = spark.read.parquet(f"{out}/released")
    checks = [
        F.sum(F.size(F.expr(f"regexp_extract_all(text, '{_rx('spark', p)}', 0)")))
        for p in _PII_PATTERNS.values()
    ]
    totals = released.agg(*checks).collect()[0]
    assert all((t or 0) == 0 for t in totals)


def test_release_layout_and_shards(spark, run):
    out, report = run
    # split-partitioned released corpus
    split_dirs = sorted(glob.glob(f"{out}/released/split=*"))
    assert [d.rsplit("=", 1)[1] for d in split_dirs] == ["test", "train", "val"]
    # shard files exist, one parquet per dir, token payload bounded
    shard_dirs = glob.glob(f"{out}/shards/shard=*/file_seq=*")
    assert len(shard_dirs) == report["shard_files"] > 0
    for d in shard_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1
    shards = spark.read.parquet(f"{out}/shards")
    per_file = (
        shards.groupBy("shard", "file_seq").agg(F.sum("n_chunk_tokens").alias("t")).collect()
    )
    assert all(r.t < _FILE_BUDGET + _PACK_BUDGET for r in per_file)
    assert report["shard_tokens"] == sum(r.t for r in per_file)
    # shards carry ONLY released-train documents
    train_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/released")
        .where("split = 'train'")
        .collect()
    }
    shard_ids = {r.doc_id for r in shards.select("doc_id").distinct().collect()}
    assert shard_ids <= train_ids


def test_release_bpe_tokenized_shards(spark, sf_dir, tmp_path_factory):
    """tokenizer='bpe': the released shards carry real input_ids; the
    report's shard_tokens equals the BPE token total of the shipped
    sequences, and every id is inside the frozen vocab."""
    from monday_etl_automation_spark.functions.bpe import bpe_vocab
    from monday_etl_automation_spark.plans.release_ops import release_training_corpus
    from monday_etl_automation_spark.sources.shard_writer import read_training_shards

    out = str(tmp_path_factory.mktemp("release_bpe"))
    report = {
        r.stage: r.n
        for r in release_training_corpus(
            spark, sf_dir, out, pack_budget=512, tokenizer="bpe"
        ).collect()
    }
    back = read_training_shards(spark, f"{out}/shards")
    rows = back.collect()
    assert report["shard_tokens"] == sum(r.n_tokens for r in rows)
    assert report["shard_files"] == len({(r.shard, r.file_seq) for r in rows})
    vmax = len(bpe_vocab())
    for r in rows:
        assert len(r.token_ids) == r.n_tokens
        assert all(1 <= t <= vmax for t in r.token_ids)


@pytest.mark.parametrize("vocab", ["1k", "8k"])
def test_release_bpe_eod_end_to_end(spark, sf_dir, tmp_path_factory, vocab):
    """Production-vocab + EOD release (round-12 verdict item 3; r14
    extends the pin to the 8k artifact — the release path is vocab-
    size-agnostic and this proves it at both shipped merge tables): a
    full release_training_corpus(tokenizer='bpe', merges=…, eod=True)
    run ships shards whose token_ids contain the vocab's reserved EOD
    id exactly AT every cumulative doc_span boundary and nowhere else,
    the report reconciles with the shipped files, and every non-EOD id
    is inside the text vocab."""
    from monday_etl_automation_spark.functions import bpe_fast
    from monday_etl_automation_spark.plans.release_ops import release_training_corpus
    from monday_etl_automation_spark.plans.tokenize_ops import eod_token_id
    from monday_etl_automation_spark.sources.shard_writer import read_training_shards

    n_merges = {"1k": 1000, "8k": 8192}[vocab]
    merges = bpe_fast.load_merges(
        bpe_fast.MERGES_1K_PATH if vocab == "1k" else bpe_fast.MERGES_8K_PATH
    )
    assert len(merges) == n_merges
    eid = eod_token_id(merges)
    assert eid == 36 + n_merges + 1
    out = str(tmp_path_factory.mktemp(f"release_bpe_eod_{vocab}"))
    report = {
        r.stage: r.n
        for r in release_training_corpus(
            spark, sf_dir, out, pack_budget=512, tokenizer="bpe",
            merges=merges, eod=True,
        ).collect()
    }
    rows = read_training_shards(spark, f"{out}/shards").collect()
    assert rows
    assert report["shard_tokens"] == sum(r.n_tokens for r in rows)
    assert report["shard_files"] == len({(r.shard, r.file_seq) for r in rows})
    n_eod = 0
    for r in rows:
        ids = list(r.token_ids)
        assert len(ids) == r.n_tokens <= 512
        assert sum(r.doc_spans) == r.n_tokens
        bounds = []
        c = 0
        for n in r.doc_spans:
            c += n
            bounds.append(c)
        # EOD ids in the SHIPPED artifact sit exactly on the span grid
        assert [i + 1 for i, t in enumerate(ids) if t == eid] == bounds
        n_eod += len(bounds)
        assert all(1 <= t <= 36 + n_merges for t in ids if t != eid)
    assert n_eod > 0
