"""Defined outcomes of the fused dedup pass (store=None) on hostile inputs:
empty input, null content, empty-string content and an all-identical
corpus.  Each asserts a result, never just "did not raise"."""

import pandas as pd
import pytest

from project_cascade_spark.config import CODE_CONFIG
from project_cascade_spark.datagen import generate_code_files
from project_cascade_spark.plans.pipeline import dedup_pipeline
from project_cascade_spark.sources.tables import load_code_files


@pytest.fixture(scope="module")
def base():
    pdf, _truth = generate_code_files(6, seed=3)
    return pdf


def _run(spark, pdf):
    res = dedup_pipeline(load_code_files(spark, pdf), CODE_CONFIG, store=None)
    return (
        res.assignments.select("file_id", "content", "content_sha", "cluster_id")
        .toPandas(),
        res.edges.toPandas(),
        res.substring_pairs.toPandas(),
    )


def test_empty_input(spark, base):
    a, e, s = _run(spark, base.iloc[:0])
    assert (len(a), len(e), len(s)) == (0, 0, 0)


def test_null_content_rows_are_singletons(spark, base):
    pdf = base.copy()
    pdf.loc[pdf.index[:3], "content"] = None
    a, e, _s = _run(spark, pdf)
    assert len(a) == len(pdf) and a["file_id"].is_unique
    nul = a[a["content"].isna()]
    assert len(nul) == 3
    # null content has no hash and never matches anything, itself included
    assert nul["content_sha"].isna().all()
    assert (nul["cluster_id"] == nul["file_id"]).all()
    assert a["cluster_id"].isin(nul["file_id"]).sum() == 3
    assert not set(e["id_a"]).union(e["id_b"]) & set(nul["file_id"])


def test_empty_string_content_is_one_exact_group(spark, base):
    pdf = base.copy()
    pdf.loc[pdf.index[:3], "content"] = ""
    a, _e, _s = _run(spark, pdf)
    assert len(a) == len(pdf)
    emp = a[a["content"] == ""]
    assert len(emp) == 3
    # sha256 of b"" on every row, one cluster labelled by the min file_id
    assert (emp["content_sha"] == (
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    )).all()
    assert set(emp["cluster_id"]) == {emp["file_id"].min()}
    assert (a[a["content"] != ""]["cluster_id"] != emp["file_id"].min()).all()


def test_all_identical_corpus_is_one_cluster_no_edges(spark, base):
    n = 2000
    pdf = pd.DataFrame({
        "repo": [f"r{i}" for i in range(n)],
        "path": "a.py",
        "commit": "c0",
        "lang": "python",
        "content": base["content"].iloc[0],
    })
    a, e, s = _run(spark, pdf)
    assert len(a) == n and a["file_id"].is_unique
    assert set(a["cluster_id"]) == {a["file_id"].min()}
    # exact duplicates collapse before LSH: no rep-level edge or pair
    assert (len(e), len(s)) == (0, 0)
