"""Corpus generator determinism + checkpoint/resume semantics."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddspark.agg import quantile_label, quantile_sketch
from ddspark.checkpoint import (
    attempts_info,
    checkpointed_quantile_sketch,
    checkpointed_sketch_agg,
)
from ddspark.corpus import LANGS, generate_corpus
from ddspark.sketch import Sketch, SketchConfig

CFG = SketchConfig(0.01)


@pytest.fixture(scope="module")
def corpus_pdf(spark):
    return generate_corpus(spark, 2000, parts=8).toPandas()


def test_corpus_deterministic_across_partitionings(spark, corpus_pdf):
    again = generate_corpus(spark, 2000, parts=3).toPandas()
    a = corpus_pdf.sort_values("id").reset_index(drop=True)
    b = again.sort_values("id").reset_index(drop=True)
    assert a.equals(b)


def test_corpus_sha256_invariant(corpus_pdf):
    for rec in corpus_pdf.sample(50, random_state=0).to_dict("records"):
        assert hashlib.sha256(rec["content"].encode()).hexdigest() == rec["content_sha256"]


def test_corpus_shape(corpus_pdf):
    assert set(corpus_pdf["lang"]) <= set(LANGS)
    top_share = corpus_pdf["lang"].value_counts(normalize=True).iloc[0]
    assert 0.3 < top_share < 0.6  # Zipf skew
    assert (corpus_pdf["content"].str.len() == 0).mean() < 0.02  # some empties
    assert corpus_pdf["path"].is_unique


def test_checkpoint_resume_matches_direct(spark, tmp_path, corpus_pdf):
    src = str(tmp_path / "corpus_parquet")
    ckpt = str(tmp_path / "ckpt")
    generate_corpus(spark, 2000, parts=8).write.parquet(src)
    n_files = len(spark.read.parquet(src).inputFiles())
    assert n_files >= 4

    # run 1: budget of 2 files, partial coverage
    res1 = checkpointed_quantile_sketch(
        spark, src, "length(content)", by=["lang"], qs=[0.5],
        cfg=CFG, ckpt_dir=ckpt, max_files=2,
    ).toPandas()
    info = attempts_info(ckpt)
    assert len(info) == 1 and info[0]["n_files"] == 2
    assert res1["count"].sum() < 2000

    # run 2: finish the rest
    res2 = checkpointed_quantile_sketch(
        spark, src, "length(content)", by=["lang"], qs=[0.5],
        cfg=CFG, ckpt_dir=ckpt,
    ).toPandas()
    info = attempts_info(ckpt)
    assert len(info) == 2
    assert sum(i["n_files"] for i in info) == n_files
    assert sum(i["rows"] for i in info) == 2000
    assert res2["count"].sum() == 2000

    # run 3: nothing left to do — pure resume read, same answer
    res3 = checkpointed_quantile_sketch(
        spark, src, "length(content)", by=["lang"], qs=[0.5],
        cfg=CFG, ckpt_dir=ckpt,
    ).toPandas()
    assert len(attempts_info(ckpt)) == 2  # no new attempt
    direct = quantile_sketch(
        spark.read.parquet(src).withColumn("_v", F.expr("length(content)")),
        "_v", by=["lang"], qs=[0.5], cfg=CFG,
    ).toPandas()
    got = res3.sort_values("lang").reset_index(drop=True)
    want = direct.sort_values("lang").reset_index(drop=True)
    assert list(got["lang"]) == list(want["lang"])
    assert list(got["count"]) == list(want["count"])
    # both paths finalize with finalize_cells_sql over the same bucket keys
    # and integer counts, so the quantiles are bit-identical
    assert list(got[quantile_label(0.5)]) == list(want[quantile_label(0.5)])


def test_interrupted_attempt_is_ignored(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    generate_corpus(spark, 500, parts=4).write.parquet(src)
    # full run
    checkpointed_sketch_agg(
        spark, src, "length(content)", ["lang"], CFG, ckpt
    ).collect()
    # fake a crashed attempt: dir without _SUCCESS, no meta json
    os.makedirs(os.path.join(ckpt, "attempt_99999"))
    res = checkpointed_quantile_sketch(
        spark, src, "length(content)", by=["lang"], qs=[0.5], cfg=CFG, ckpt_dir=ckpt
    ).toPandas()
    assert res["count"].sum() == 500


def test_io_state_roundtrip(spark, tmp_path):
    from ddspark import io as dio
    from ddspark.agg import finalize_quantiles, merge_partials, sketch_agg

    corpus = generate_corpus(spark, 1000, parts=4)
    src = str(tmp_path / "corpus")
    corpus.write.parquet(src)
    df = dio.read_corpus(spark, src, columns=["lang", "content"])
    assert df.columns == ["lang", "content"]
    state = sketch_agg(
        df.selectExpr("lang", "CAST(length(content) AS DOUBLE) AS v"), "v", ["lang"], CFG
    )
    out = str(tmp_path / "state")
    dio.write_state_table(state, out)
    back = dio.read_state_table(spark, out)
    # state read back is still mergeable and finalizable
    fin = finalize_quantiles(back, [0.5], CFG, ["lang"]).toPandas()
    assert fin["count"].sum() == 1000


def test_checkpoint_rejects_parameter_change(spark, tmp_path):
    src = str(tmp_path / "srcp")
    generate_corpus(spark, 300, parts=2).write.parquet(src)
    ck = str(tmp_path / "ckp")
    checkpointed_sketch_agg(spark, src, "length(content)", ["lang"], CFG, ck).collect()
    with pytest.raises(ValueError, match="refusing to resume"):
        checkpointed_sketch_agg(spark, src, "length(path)", ["lang"], CFG, ck).collect()
    # same gamma, different bucket keys: the cubic mapping's partials must
    # not be finalized as logarithmic ones
    cubic = SketchConfig(0.01, mapping="cubic")
    assert cubic.gamma == CFG.gamma
    with pytest.raises(ValueError, match="refusing to resume"):
        checkpointed_quantile_sketch(
            spark, src, "length(content)", by=["lang"], cfg=cubic, ckpt_dir=ck
        ).collect()


def test_checkpoint_attempt_numbering_survives_gaps(spark, tmp_path):
    import shutil

    src = str(tmp_path / "srcg")
    generate_corpus(spark, 400, parts=4).write.parquet(src)
    ck = str(tmp_path / "ckg")
    checkpointed_sketch_agg(
        spark, src, "length(content)", ["lang"], CFG, ck, max_files=2
    ).collect()
    checkpointed_sketch_agg(
        spark, src, "length(content)", ["lang"], CFG, ck
    ).collect()
    # delete attempt_00000 (simulating cleanup of an old attempt); a new
    # run over fresh files must NOT reuse/overwrite attempt_00001
    shutil.rmtree(os.path.join(ck, "attempt_00000"))
    os.remove(os.path.join(ck, "attempt_00000.json"))
    res = checkpointed_quantile_sketch(
        spark, src, "length(content)", by=["lang"], qs=[0.5], cfg=CFG, ckpt_dir=ck
    ).toPandas()
    names = sorted(os.path.basename(d) for d in os.listdir(ck) if not d.endswith(".json"))
    assert "attempt_00002" in names and "attempt_00001" in names
    # attempt_00000's files were redone in the new attempt: full coverage
    assert res["count"].sum() == 400


def test_read_corpus_jsonl(spark, tmp_path):
    import json

    from ddspark import io as dio
    from ddspark.corpus import generate_corpus

    pdf = generate_corpus(spark, n_rows=40, parts=2).toPandas()
    p = tmp_path / "corpus.jsonl"
    with open(p, "w") as fh:
        for rec in pdf.to_dict("records"):
            fh.write(json.dumps(rec) + "\n")
        fh.write("{not valid json\n")  # a crawl always contains garbage
    # Spark disallows filtering on _corrupt_record alone over a raw file
    # scan — materialize first (documented in read_corpus_jsonl)
    df = dio.read_corpus_jsonl(spark, str(p)).cache()
    good = df.where(df["_corrupt_record"].isNull())
    assert good.count() == 40
    assert df.where(df["_corrupt_record"].isNotNull()).count() == 1
    # explicit schema: no inference pass, exact dtypes
    assert dict(df.dtypes)["lang"] == "string"
    # column pruning arg
    two = dio.read_corpus_jsonl(spark, str(p), columns=["lang", "content"])
    assert two.columns == ["lang", "content"]


def test_read_corpus_csv(spark, tmp_path):
    from ddspark import io as dio
    from ddspark.corpus import generate_corpus

    pdf = generate_corpus(spark, n_rows=30, parts=2).toPandas()
    p = tmp_path / "corpus.csv"
    pdf.to_csv(p, index=False)
    df = dio.read_corpus_csv(spark, str(p)).cache()
    good = df.where(df["_corrupt_record"].isNull())
    assert good.count() == 30
    assert dict(df.dtypes)["lang"] == "string"
    # sha256 invariant survives the CSV roundtrip (quoted multiline content)
    from pyspark.sql import functions as F

    bad = good.where(
        F.sha2(F.col("content").cast("binary"), 256) != F.col("content_sha256")
    ).count()
    assert bad == 0
    two = dio.read_corpus_csv(spark, str(p), columns=["lang", "content"])
    assert two.columns == ["lang", "content"]


# ------------------------------------------------------------ bucketed tables


def test_bucketed_join_and_agg_are_exchange_free(spark, tmp_path):
    """Co-bucketed tables join and aggregate on the bucket key with ZERO
    exchanges — the co-located-join primitive for repeated per-document
    joins at corpus scale."""
    from ddspark.io import read_bucketed, write_bucketed

    a = (
        spark.range(0, 1000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("x", F.col("doc_id") % 7)
    )
    b = (
        spark.range(0, 1000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("y", F.col("doc_id") % 5)
    )
    write_bucketed(a, "t_bkt_a", ["doc_id"], num_buckets=4,
                   sort_cols=["doc_id"], path=str(tmp_path / "a"))
    write_bucketed(b, "t_bkt_b", ["doc_id"], num_buckets=4,
                   sort_cols=["doc_id"], path=str(tmp_path / "b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ta, tb = read_bucketed(spark, "t_bkt_a"), read_bucketed(spark, "t_bkt_b")
        j = ta.join(tb, "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 1000
        got = j.where(F.col("doc_id") == 13).collect()[0]
        assert (got["x"], got["y"]) == (13 % 7, 13 % 5)
        g = ta.groupBy("doc_id").agg(F.sum("x").alias("sx"))
        gplan = g._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in gplan, gplan
        assert g.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_quantile_sketch_over_bucketed_table_is_exchange_free(spark, tmp_path):
    """A corpus bucketed by the grouping key turns the ENTIRE sketch
    pipeline shuffle-free: the bucketed scan's HashPartitioning(lang)
    clusters (lang, _sgn, _k) for the cells aggregation AND (lang) for the
    rank-walk window, so Catalyst inserts zero Exchange nodes.  (Bucket by
    a high-cardinality key in production — lang here only demos the
    mechanics on the test corpus.)"""
    from ddspark.agg import quantile_sketch
    from ddspark.io import read_bucketed, write_bucketed
    from ddspark.sketch import SketchConfig

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    write_bucketed(docs.select("doc_id", "lang", "n_chars"), "t_bkt_sketch",
                   ["lang"], num_buckets=4, path=str(tmp_path / "bs"))
    try:
        t = read_bucketed(spark, "t_bkt_sketch")
        q = quantile_sketch(t, "n_chars", by=["lang"], qs=[0.5, 0.99],
                            cfg=SketchConfig(0.01))
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # values must match the plain parquet path exactly
        plain = quantile_sketch(docs, "n_chars", by=["lang"], qs=[0.5, 0.99],
                                cfg=SketchConfig(0.01))
        got = {r["lang"]: r for r in q.collect()}
        want = {r["lang"]: r for r in plain.collect()}
        assert got.keys() == want.keys()
        for k in want:
            assert got[k] == want[k]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_sketch")


def test_orc_source_roundtrip_and_pushdown(spark, tmp_path, corpus_pdf):
    """ORC as a second columnar source (jars ship with Spark): byte-exact
    roundtrip of the corpus (sha256 invariant) and predicate pushdown into
    the ORC scan."""
    from ddspark.io import read_corpus

    df = spark.createDataFrame(corpus_pdf)
    path = str(tmp_path / "corpus_orc")
    df.write.orc(path)
    back = read_corpus(spark, path, fmt="orc")
    assert back.count() == len(corpus_pdf)
    bad = back.where(
        F.sha2(F.col("content").cast("binary"), 256) != F.col("content_sha256")
    ).count()
    assert bad == 0
    q = back.where(F.col("lang") == "python").select("lang", "content")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:120]


def test_cobucketed_dedup_pipeline_joins_are_exchange_free(spark, tmp_path):
    """The co-bucketed dedup pipeline (round 4): corpus, minhash-signature
    side table, and keeper verdicts all bucketed by doc_id — the
    attach-signature join AND the keeper semi-join (the two places a
    corpus-scale dedup pays its big shuffles) run with ZERO exchanges, and
    the kept set is exactly the unbucketed pipeline's."""
    from ddspark.io import read_bucketed, write_bucketed
    from ddspark.pipeline.dedup import (
        apply_keepers,
        dedup_keepers,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    sigs = minhash_signatures(docs, "doc_id", "text", n=2, num_hashes=16) \
        .withColumnRenamed("id", "doc_id")
    pairs = lsh_candidate_pairs(sigs.withColumnRenamed("doc_id", "id"),
                                bands=8, rows_per_band=2)
    keepers = dedup_keepers(docs, pairs)
    write_bucketed(docs, "t_dd_corpus", ["doc_id"], num_buckets=4,
                   sort_cols=["doc_id"], path=str(tmp_path / "corpus"))
    write_bucketed(sigs, "t_dd_sigs", ["doc_id"], num_buckets=4,
                   sort_cols=["doc_id"], path=str(tmp_path / "sigs"))
    write_bucketed(keepers, "t_dd_keep", ["doc_id"], num_buckets=4,
                   sort_cols=["doc_id"], path=str(tmp_path / "keep"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        corpus_b = read_bucketed(spark, "t_dd_corpus")
        sigs_b = read_bucketed(spark, "t_dd_sigs")
        keep_b = read_bucketed(spark, "t_dd_keep")
        # attach-signature join: exchange-free
        with_sig = corpus_b.join(sigs_b, "doc_id")
        plan = with_sig._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert with_sig.count() == docs.count()
        # keeper semi-join: exchange-free
        kept = apply_keepers(corpus_b, keep_b)
        kplan = kept._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in kplan, kplan
        # values: bucketed result == unbucketed result
        want = sorted(
            r["doc_id"]
            for r in apply_keepers(docs, keepers).select("doc_id").collect()
        )
        got = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
        assert got == want and 0 < len(got) <= docs.count()
        # the verdict table actually dropped someone (near-dups exist in
        # the corpus at these LSH settings) or kept everyone — either way
        # keep semantics must match dedup_keepers exactly
        n_keep = keepers.where(F.col("keep")).count()
        assert len(got) == n_keep
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in ("t_dd_corpus", "t_dd_sigs", "t_dd_keep"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
