"""Driver-built relations and the exhaustive plan's block restriction.

- every relation the engine builds on the driver is an Arrow
  ``LocalRelation``: no ``LogicalRDD``/``ExistingRDD`` (a Python list handed
  to ``createDataFrame``) reaches any retrieve plan, so no call runs a job
  of Python-worker tasks just to broadcast its query terms;
- ``createDataFrame`` is called in one place only, ``local_relation``;
- the exhaustive plan over a persisted index decodes only the query terms'
  blocks (a broadcast left-semi join below the decode), and its results are
  identical to decoding every block.
"""

import inspect
import os
import re

import pandas as pd
import pytest

import pyterrier_pisa_spark
from pyterrier_pisa_spark.operators import retrieve as R
from pyterrier_pisa_spark.operators.wand import (_empty_result,
                                                 retrieve_blockmax,
                                                 retrieve_blockmax_batch)
from pyterrier_pisa_spark.plans.pipeline import retrieve, retrieve_toks
from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
from pyterrier_pisa_spark.sources.index_store import (build_index, load_index,
                                                      quantize_index)

QUERIES = [
    ("q1", "parse index query"),
    ("q2", "merge shard buffer"),
    ("q3", "token stream"),
    ("q4", "nonexistenttermxyz"),
    ("q5", "codec block posting"),
]


@pytest.fixture(scope="module")
def one_chunk(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lrel") / "idx")
    build_index(synth_code_corpus(spark, num_docs=300, seed=21), path,
                stemmer="porter2", block_size=32, mode="overwrite")
    return load_index(spark, path)


@pytest.fixture(scope="module")
def multi_chunk(spark, tmp_path_factory):
    """chunk_span 64 over 300 docs: five docid chunks, window merge runs."""
    root = tmp_path_factory.mktemp("lrel_mc")
    path = str(root / "idx")
    build_index(synth_code_corpus(spark, num_docs=300, seed=22), path,
                stemmer="porter2", block_size=16, chunk_span=64, mode="overwrite")
    idx = load_index(spark, path)
    qpath = str(root / "impact")
    quantize_index(idx, qpath)
    return idx, load_index(spark, qpath)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_local(df):
    plan = _plan(df)
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def test_query_plans_have_no_rdd_relation(spark, one_chunk):
    from pyterrier_pisa_spark.operators.retrieve import shuffle_parts

    assert shuffle_parts(spark) > 1  # the batch query-group split is active
    logical = one_chunk.as_logical()
    plans = [
        retrieve_blockmax(one_chunk, QUERIES, k=10),
        retrieve_blockmax_batch(one_chunk, QUERIES, k=10, include_query=True),
        retrieve(logical, QUERIES, k=10, mode="ranked_or"),
        retrieve(logical, QUERIES, k=10, mode="ranked_and"),
        retrieve_toks(logical, [("t1", {"pars": 1.0, "index": 2.0})], k=10),
        _empty_result(spark, include_query=True),
        _empty_result(spark, include_query=False, cast_float32=False),
    ]
    batch_plan = plans[1]._jdf.queryExecution().executedPlan().toString()
    assert "qgrp" in batch_plan, "the query-group tag join should be in the plan"
    for df in plans:
        _assert_local(df)
    # and they still answer
    assert len(plans[0].toPandas()) > 0


def _below_kernel_exchange(plan: str) -> list[str]:
    """The lines of the subtree under the kernel's exchange (the explicit
    repartition on task_group) in an executed-plan tree string."""
    lines = plan.splitlines()
    top = next(i for i, ln in enumerate(lines)
               if re.search(r"Exchange hashpartitioning\(task_group#", ln))
    col = re.search(r"[A-Za-z]", lines[top]).start()
    below = []
    for ln in lines[top + 1:]:
        m = re.search(r"[A-Za-z]", ln)
        if m is None or m.start() <= col:
            break
        below.append(ln)
    return below


@pytest.mark.parametrize("fn", [retrieve_blockmax, retrieve_blockmax_batch])
@pytest.mark.parametrize("which", ["one_chunk", "multi_chunk"])
def test_one_kernel_plan_shape(spark, request, fn, which):
    """Both names plan one Arrow kernel stage over blocks partitioned by task
    group (plus a query group on the one-chunk index, where the shuffle is
    wider than the chunk count): no pandas kernel, no join to tag blocks with
    their query groups, and no per-query copy of a block below the
    exchange."""
    idx = request.getfixturevalue(which)
    if which == "multi_chunk":
        idx = idx[0]
    plan = fn(idx, QUERIES, k=10)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInArrow") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert not re.search(r"Join .*qgrp#", plan), plan
    below = _below_kernel_exchange(plan)
    assert below and not any(re.search(r"\bqid#", ln) for ln in below), plan
    if which == "one_chunk":
        assert "qgrp#" in "".join(below), plan


def test_local_relation_rows_and_pandas(spark):
    rows = [("a", 1, 0.5), ("b", None, 2.0)]
    schema = "qid string, n long, w double"
    df = R.local_relation(spark, rows, schema)
    _assert_local(df)
    assert [tuple(r) for r in df.collect()] == rows
    pdf = pd.DataFrame({"w": [0.5], "qid": ["a"], "n": [1], "extra": [9]})
    got = R.local_relation(spark, pdf, schema)
    assert got.columns == ["qid", "n", "w"]
    assert [tuple(r) for r in got.collect()] == [("a", 1, 0.5)]
    empty = R.local_relation(spark, [], schema)
    assert empty.count() == 0 and empty.schema.simpleString() == \
        "struct<qid:string,n:bigint,w:double>"


def test_create_dataframe_only_inside_helper():
    root = os.path.dirname(pyterrier_pisa_spark.__file__)
    src, start = inspect.getsourcelines(R.local_relation)
    helper = (inspect.getsourcefile(R.local_relation), start, start + len(src))
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                for no, line in enumerate(fh, 1):
                    if re.search(r"createDataFrame\(", line):
                        found.append((path, no))
    assert found, "the helper itself must call createDataFrame"
    for path, no in found:
        assert os.path.samefile(path, helper[0]) and helper[1] <= no < helper[2], \
            f"createDataFrame( outside local_relation: {path}:{no}"


def _full_decode(logical):
    from dataclasses import replace

    return replace(logical, tf_for_terms=None)


def _same(a: pd.DataFrame, b: pd.DataFrame):
    cols = ["qid", "rank", "docid", "docno", "score"]
    a = a[cols].sort_values(["qid", "rank"]).reset_index(drop=True)
    b = b[cols].sort_values(["qid", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def _decode_restricted(df) -> bool:
    """The decode (a JVM explode of the posting lists) reads the blocks
    semi-joined with the query's term ids."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return bool(re.search(r"Generate explode\(arrays_zip\(.*\n[ :]*\+- BroadcastHashJoin "
                          r"\[term_id#\d+L\], \[term_id#\d+L\], LeftSemi", plan))


def _python_stages(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"MapIn\w+|\w*EvalPython\w*|FlatMap\w*InPandas", plan)


@pytest.mark.parametrize("mode", ["ranked_or", "ranked_and"])
def test_exhaustive_decodes_only_query_blocks(spark, multi_chunk, mode):
    idx, _ = multi_chunk
    logical = idx.as_logical()
    idx._driver_cache.clear()
    res = retrieve(logical, QUERIES, k=20, mode=mode, include_query=False)
    assert _decode_restricted(res), res._jdf.queryExecution().executedPlan().toString()
    assert _python_stages(res) == []  # the exhaustive plan runs no Python
    _assert_local(res)
    full = retrieve(_full_decode(logical), QUERIES, k=20, mode=mode,
                    include_query=False)
    assert not _decode_restricted(full)
    got = res.toPandas()
    assert len(got) > 0
    _same(got, full.toPandas())
    # the ids come from the Spark lexicon: nothing is read to the driver
    assert not idx._driver_cache


def test_exhaustive_restriction_quantized(spark, multi_chunk):
    _, qidx = multi_chunk
    logical = qidx.as_logical()
    res = retrieve(logical, QUERIES, k=20, scorer="quantized", include_query=False)
    assert _decode_restricted(res)
    full = retrieve(_full_decode(logical), QUERIES, k=20, scorer="quantized",
                    include_query=False)
    got = res.toPandas()
    assert len(got) > 0
    _same(got, full.toPandas())
    toks = [("t1", {"pars": 1.0, "index": 2.0}), ("t2", {"shard": 1.0})]
    got = retrieve_toks(logical, toks, k=20).toPandas()
    assert len(got) > 0
    _same(got, retrieve_toks(_full_decode(logical), toks, k=20).toPandas())
