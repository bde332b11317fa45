"""Round-4 hardening: duplicate-docno gate, derived-index lifetime
fingerprints, driver-side query-frame guard, and the
last two reference-parity shims (DictTokeniser class, retriever
from_dataset)."""

import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F


def test_duplicate_docnos_hard_fail(spark):
    """prepare_corpus assigns ids over docno and joins back on docno; a
    duplicate docno would fan that join out n^2 and silently corrupt the
    index — it must raise instead (ADVICE r3)."""
    from pyterrier_pisa_spark.plans.pipeline import prepare_corpus

    df = spark.createDataFrame(
        [("d1", "alpha beta"), ("d2", "gamma"), ("d1", "delta")],
        "docno string, content string")
    with pytest.raises(ValueError, match="duplicate docno"):
        prepare_corpus(df).count()


def test_unique_docnos_still_build(spark):
    from pyterrier_pisa_spark.plans.pipeline import prepare_corpus

    df = spark.createDataFrame(
        [("d1", "alpha beta"), ("d2", "gamma")], "docno string, content string")
    out = prepare_corpus(df)
    rows = {r["docno"]: r["docid"] for r in out.collect()}
    assert sorted(rows.values()) == [0, 1]
    assert rows["d1"] < rows["d2"]  # dense ids in docno order


def test_quantized_index_detects_rebuilt_source(spark, tmp_path):
    """table_refs couple a derived index's lifetime to its source; a rebuilt
    source (different meta.json) must fail LOUDLY at load, not stale-read."""
    from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
    from pyterrier_pisa_spark.sources.index_store import (build_index, load_index,
                                                          quantize_index)

    src = str(tmp_path / "src_fp")
    corpus = synth_code_corpus(spark, num_docs=80, seed=9)
    build_index(corpus, src, stemmer="none", mode="overwrite")
    dst = str(tmp_path / "q_fp")
    meta = quantize_index(load_index(spark, src), dst)
    assert meta["table_ref_fingerprints"]  # fingerprints recorded
    load_index(spark, dst)  # un-tampered source loads fine

    # simulate a rebuild: the source meta.json changes
    src_meta = json.load(open(os.path.join(src, "meta.json")))
    src_meta["stats"]["num_docs"] = 81
    with open(os.path.join(src, "meta.json"), "w") as fh:
        json.dump(src_meta, fh)
    with pytest.raises(ValueError, match="rebuilt or replaced"):
        load_index(spark, dst)

    # deleted source -> also loud
    os.remove(os.path.join(src, "meta.json"))
    with pytest.raises(ValueError, match="no longer exists"):
        load_index(spark, dst)


def test_query_frame_guard(spark, monkeypatch):
    """A corpus-sized frame routed into the driver-side query parse must be
    rejected with an actionable error (and without collecting it all)."""
    import pyterrier_pisa_spark.plans.api as api

    monkeypatch.setattr(api, "MAX_DRIVER_QUERIES", 5)
    big = spark.range(20).select(F.col("id").cast("string").alias("qid"),
                                 F.lit("hello world").alias("query"))
    with pytest.raises(ValueError, match="batch"):
        api._as_query_list(big)
    small = spark.createDataFrame([("1", "hello")], "qid string, query string")
    pretok, rows = api._as_query_list(small)
    assert not pretok and rows == [("1", "hello")]


def test_dict_tokeniser_transformer_spark_and_pandas(spark):
    """DictTokeniser class parity (reference __init__.py:558-567): adds
    {field}_toks map<token,count>; Spark and pandas paths agree."""
    import pandas as pd

    from pyterrier_pisa_spark import DictTokeniser

    texts = ["Hello, hello worlds!", "a b a c 42"]
    tok = DictTokeniser(field="text")
    sdf = spark.createDataFrame([(t,) for t in texts], "text string")
    got_spark = [dict(r["text_toks"]) for r in
                 tok.transform(sdf).orderBy("text").collect()]
    pdf = tok.transform(pd.DataFrame({"text": texts}))
    assert "text_toks" in pdf.columns
    got_pandas = sorted(pdf["text_toks"], key=lambda d: sorted(d))
    assert sorted(got_spark, key=lambda d: sorted(d)) == got_pandas
    assert {"hello": 2.0, "worlds": 1.0} in got_spark

    # stemmer hooks: name and callable
    stemmed = DictTokeniser(field="text", stemmer="porter2").transform(
        pd.DataFrame({"text": ["running worlds"]}))["text_toks"][0]
    assert stemmed == {"run": 1, "world": 1}
    shouty = DictTokeniser(field="text", stemmer=str.upper).transform(
        pd.DataFrame({"text": ["ab ab"]}))["text_toks"][0]
    assert shouty == {"AB": 2}


def test_retriever_from_dataset(spark, tmp_path):
    """SparkRetriever.from_dataset parity (reference __init__.py:527-528)."""
    from pyterrier_pisa_spark import SparkRetriever
    from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
    from pyterrier_pisa_spark.sources.index_store import build_index, register_dataset

    path = str(tmp_path / "ds_idx")
    reg = str(tmp_path / "registry")
    build_index(synth_code_corpus(spark, num_docs=60, seed=3), path,
                stemmer="porter2", mode="overwrite")
    register_dataset("r4-dataset", path, registry_dir=reg)
    retr = SparkRetriever.from_dataset(spark, "r4-dataset", num_results=7,
                                       registry_dir=reg)
    rows = retr.search("def return").collect()
    assert 0 < len(rows) <= 7
    assert retr.num_results == 7


def test_termvec_vectorized_matches_counter_semantics(spark):
    """The batch-vectorized termvec must produce exactly the reference
    bag-of-words: dict(terms->tfs) == Counter(stemmed tokens), doclen =
    total token count."""
    from pyterrier_pisa_spark.functions.porter2 import stem
    from pyterrier_pisa_spark.functions.tokenizer import _TOKEN_RE, termvec_udf

    texts = ["Running runs runner!", "", None, "x " * 50 + "y",
             "The dogs are running quickly; the cats ran too."]
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                "i long, content string")
    out = {r["i"]: r["tv"] for r in
           sdf.select("i", termvec_udf("porter2")("content").alias("tv")).collect()}
    for i, text in enumerate(texts):
        toks = [stem(t) for t in _TOKEN_RE.findall(text.lower())] if text else []
        want = Counter(toks)
        tv = out[i]
        assert dict(zip(tv["terms"], tv["tfs"])) == dict(want), text
        assert tv["doclen"] == len(toks)
        assert len(set(tv["terms"])) == len(tv["terms"])  # no dup terms
