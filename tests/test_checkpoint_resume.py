"""S9 compute-or-reuse checkpointing and S6 resumable enrichment: a
killed enrichment run must resume without re-fetching DOIs whose chunk
already committed (reference resumes from its every-2000-rows CSV
checkpoint — final_tables.py:29-41)."""

from __future__ import annotations

import os

import pytest

from research_data_pipeline_spark.io.checkpoint import compute_or_reuse, invalidate
from research_data_pipeline_spark.transforms.augment import enrich_articles_resumable


def test_compute_or_reuse_runs_once_then_reads_back(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(5).withColumnRenamed("id", "v")

    a = compute_or_reuse(spark, path, compute)
    b = compute_or_reuse(spark, path, compute)
    assert calls["n"] == 1  # second call reads the checkpoint
    assert a.count() == b.count() == 5
    compute_or_reuse(spark, path, compute, force=True)
    assert calls["n"] == 2
    invalidate(path, spark)
    compute_or_reuse(spark, path, compute)
    assert calls["n"] == 3


def test_compute_or_reuse_reads_back_the_written_schema(spark, tmp_path):
    """A fresh checkpoint is re-read with the schema it was written with:
    no footer-inference job after the write, and the same schema (all
    nullable, as parquet reads it) as an inferring read."""
    from .conftest import count_jobs

    df = spark.range(5).selectExpr("id", "cast(id as string) s", "array(id) a")
    path = str(tmp_path / "ckpt")
    with count_jobs(spark) as jobs:
        back = compute_or_reuse(spark, path, lambda: df)
    assert len(jobs) == 1  # the write
    assert back.schema == spark.read.parquet(path).schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def _articles(spark):
    rows = [(f"d{i}", None, None, None) for i in range(10)]
    rows += [("x0", "journal-article", "7", "1111-1111")]
    return spark.createDataFrame(
        rows, "doi string, type string, n_cites string, journal_issn string"
    )


def _logging_fetcher(log_dir: str, fail_on: str | None = None):
    """Fetcher that drops one marker file per fetched DOI (visible across
    local-mode worker processes) and optionally dies on a given DOI."""

    def fetch(dois):
        out = {}
        for d in dois:
            if d == fail_on:
                raise RuntimeError(f"fetcher killed on {d}")
            open(os.path.join(log_dir, d), "w").close()
            out[d] = ("journal-article", 42, f"issn-{d}")
        return out

    return fetch


def test_enrichment_resumes_without_refetch(spark, tmp_path):
    cache = str(tmp_path / "fetch_cache")
    log1 = tmp_path / "log1"
    log2 = tmp_path / "log2"
    log1.mkdir()
    log2.mkdir()
    art = _articles(spark)

    # run 1: dies inside the second 4-DOI chunk (d4..d7); chunk 1 (d0..d3)
    # has already committed to the cache
    with pytest.raises(Exception):
        enrich_articles_resumable(
            art,
            _logging_fetcher(str(log1), fail_on="d5"),
            cache,
            batch_size=2,
            checkpoint_every=4,
        )
    committed = set(os.listdir(log1)) - {"d4", "d6", "d7"}  # in-flight chunk lost
    assert {"d0", "d1", "d2", "d3"} <= set(os.listdir(log1))

    # run 2: healthy fetcher — must not re-fetch the committed chunk
    out = enrich_articles_resumable(
        art, _logging_fetcher(str(log2)), cache, batch_size=2, checkpoint_every=4
    )
    refetched = set(os.listdir(log2))
    assert refetched.isdisjoint({"d0", "d1", "d2", "d3"}), refetched
    got = {r["doi"]: r for r in out.collect()}
    assert all(got[f"d{i}"]["type"] == "journal-article" for i in range(10))
    assert got["d9"]["n_cites"] == "42" and got["d9"]["journal_issn"] == "issn-d9"
    assert got["x0"]["type"] == "journal-article" and got["x0"]["n_cites"] == "7"

    # run 3: nothing pending — no fetches at all, result unchanged
    log3 = tmp_path / "log3"
    log3.mkdir()
    out2 = enrich_articles_resumable(
        out, _logging_fetcher(str(log3)), cache, batch_size=2, checkpoint_every=4
    )
    assert os.listdir(log3) == []
    assert out2.count() == 11
