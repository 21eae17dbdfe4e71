"""Bloom-decontamination funnel stage + CLI wiring (r11 s2).

The stage contract: a curated doc sharing more than max_permille/1000
of its distinct word 3-grams with the benchmark corpus is dropped after
the dedup stages; everything else (including docs too short to have a
3-gram) passes through untouched, with all passthrough columns intact.
"""

from __future__ import annotations

import gzip
import json

import pytest

import curatectl
from ir_analyses_spark.llm.bloomdecon import bloom_decontaminate_filter
from ir_analyses_spark.llm.curate import curation_stages, funnel_counts
from tests.test_curate import CRAWL

#: the text of GOOD_A's unique paragraph (the page body the funnel
#: extracts once NAV/FOOTER lines are line-deduped away)
_A_PARA = (
    "the quick brown fox jumps over the lazy dog and runs to the river "
    "bank today"
)


@pytest.fixture(scope="module")
def crawl_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("crawl_decon")
    (d / "crawl.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in CRAWL)
    )
    return d


def test_stage_drops_contaminated_doc(spark, crawl_dir):
    bench = spark.createDataFrame([(_A_PARA,)], "text string")
    stages = curation_stages(
        spark,
        str(crawl_dir),
        blocked_domains=["spam.example"],
        quality_thresholds={"min_words": 10},
        decontaminate_bench=bench,
    )
    n = funnel_counts(stages)
    # baseline funnel (test_curate.test_funnel_attrition): line_deduped=4,
    # final=3 with /a surviving. The benchmark contains A's paragraph →
    # the decontamination stage drops exactly that doc.
    assert n["line_deduped"] == 4
    assert n["decontaminated"] == 3
    assert n["final"] == 2
    urls = {r["url"] for r in stages["final"].collect()}
    assert not any("/a" in u for u in urls)
    assert any("/b" in u for u in urls) and any("/c" in u for u in urls)


# slow: no-op-direction funnel e2e; the operator no-op is pinned fast in test_bloomdecon
@pytest.mark.slow
def test_unrelated_benchmark_drops_nothing(spark, crawl_dir):
    bench = spark.createDataFrame(
        [("completely unrelated benchmark sentence about aardvarks",)],
        "text string",
    )
    stages = curation_stages(
        spark,
        str(crawl_dir),
        blocked_domains=["spam.example"],
        quality_thresholds={"min_words": 10},
        decontaminate_bench=bench,
    )
    n = funnel_counts(stages)
    assert n["decontaminated"] == n["line_deduped"]
    assert n["final"] == 3


def test_short_docs_kept_and_columns_preserved(spark):
    docs = spark.createDataFrame(
        [(1, "one two", "u1", "t1"), (2, _A_PARA, "u2", "t2")],
        "doc_id long, text string, url string, title string",
    )
    bench = spark.createDataFrame([(_A_PARA,)], "text string")
    out = bloom_decontaminate_filter(docs, bench)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 1 has no 3-grams → kept; doc 2 is the benchmark itself → dropped
    assert set(rows) == {1}
    assert rows[1]["url"] == "u1" and rows[1]["title"] == "t1"


def _fixture_docs(spark):
    return spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta epsilon zeta", "u", "t")
         for i in range(20)],
        "doc_id long, text string, url string, title string",
    )


def test_default_gate_shuffles_are_fixed_width(spark):
    """Default (codegen) gate contract: the per-doc distinct dedups on
    the 120-bit probe pair, so the only string-keyed exchange is the
    BENCHMARK-side bits build (eval-suite-sized) — every corpus-side
    exchange is long-keyed."""
    import re

    bench = spark.createDataFrame([(_A_PARA,)], "text string")
    plan = (
        bloom_decontaminate_filter(_fixture_docs(spark), bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts
    string_keyed = [
        p
        for p in parts
        if not all(
            "#" in c and c.split("#")[1].endswith("L")
            for c in [c.strip() for c in p.split(",")[:-1]]
        )
    ]
    assert len(string_keyed) == 1, parts
    assert any(re.match(r"doc_id#\d+L, h1#\d+L, h2#\d+L", p) for p in parts), parts


def test_packed_gate_is_zero_shuffle_projection(spark):
    """Packed-form contract: one per-row predicate — the corpus-side
    plan has NO exchange, join, aggregate, or generator, which is the
    streaming-legality argument (a stateless projection)."""
    from ir_analyses_spark.llm.bloomdecon import (
        bloom_decontaminate_filter_packed,
    )

    bench = spark.createDataFrame([(_A_PARA,)], "text string")
    plan = (
        bloom_decontaminate_filter_packed(_fixture_docs(spark), bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for op in ("Exchange", "Join", "HashAggregate", "Generate"):
        assert op not in plan, (op, plan)


def test_both_gate_forms_agree(spark):
    """The packed form must keep EXACTLY the default form's set, at a
    threshold where the cut is live (some docs dropped, some kept)."""
    from ir_analyses_spark.llm.bloomdecon import (
        bloom_decontaminate_filter_packed,
    )

    docs = spark.createDataFrame(
        [(i, _A_PARA if i % 3 == 0 else f"totally different text {i} "
          "with many unrelated words here", "u", "t") for i in range(30)],
        "doc_id long, text string, url string, title string",
    )
    bench = spark.createDataFrame([(_A_PARA,)], "text string")
    a = {r["doc_id"] for r in bloom_decontaminate_filter(docs, bench).collect()}
    b = {
        r["doc_id"]
        for r in bloom_decontaminate_filter_packed(docs, bench).collect()
    }
    assert a == b
    assert 0 < len(a) < 30


def test_packed_words_match_bits_table(spark):
    """The packed representation must encode exactly the bits table the
    certificate uses — bit-for-bit."""
    from ir_analyses_spark.llm.bloomdecon import (
        _M_BITS,
        bloom_bits,
        packed_bloom_words,
        word_ngrams,
    )
    from pyspark.sql import functions as F

    bench = spark.createDataFrame([(_A_PARA,), ("more words here too",)],
                                  "text string")
    words = packed_bloom_words(bench)
    assert len(words) == _M_BITS // 64
    expected = {
        r["pos"]
        for r in bloom_bits(
            word_ngrams(bench.withColumn("doc_id", F.lit(0)))
        ).collect()
    }
    got = {
        i * 64 + b
        for i, w in enumerate(words)
        for b in range(64)
        if (w >> b) & 1
    }
    assert got == expected and expected


# slow: CLI lifecycle twin; the stage drop semantics stay in test_stage_drops_contaminated_doc
@pytest.mark.slow
def test_cli_decontaminate_end_to_end(spark, tmp_path, capsys):
    bench_path = str(tmp_path / "bench.parquet")
    spark.createDataFrame([(_A_PARA,)], "text string").write.parquet(
        bench_path
    )
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "c.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in CRAWL)
    )
    out = str(tmp_path / "out")
    rc = curatectl.main(
        [
            "--warc-dir", str(crawl),
            "--out-dir", out,
            "--min-words", "10",
            "--decontaminate", bench_path,
            "--decontaminate-max-permille", "100",
            "--report",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["funnel"]["decontaminated"] < report["funnel"]["line_deduped"]
    final = spark.read.parquet(out)
    assert not any("/a" in u for u in [r["url"] for r in final.collect()])


def test_gate_rejects_out_of_range_permille(spark):
    """A permille outside [0, 1000] silently degenerates the gate —
    both forms must refuse it (second-pass review finding)."""
    from ir_analyses_spark.llm.bloomdecon import (
        bloom_decontaminate_filter_packed,
    )

    docs = _fixture_docs(spark)
    bench = spark.createDataFrame([(_A_PARA,)], "text string")
    for bad in (-1, 1001):
        with pytest.raises(ValueError, match="max_hit_permille"):
            bloom_decontaminate_filter(docs, bench, max_hit_permille=bad)
        with pytest.raises(ValueError, match="max_hit_permille"):
            bloom_decontaminate_filter_packed(
                docs, bench, max_hit_permille=bad
            )


def test_cli_permille_without_benchmark_fails(tmp_path):
    with pytest.raises(ValueError, match="decontaminate_max_permille"):
        curatectl.main(
            [
                "--warc-dir", str(tmp_path),
                "--out-dir", str(tmp_path / "o"),
                "--decontaminate-max-permille", "50",
            ]
        )


def test_cli_benchmark_without_text_column_fails(spark, tmp_path):
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame([(1,)], "x long").write.parquet(bad)
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "c.warc.gz").write_bytes(gzip.compress(CRAWL[0]))
    with pytest.raises(ValueError, match="no 'text' column"):
        curatectl.main(
            [
                "--warc-dir", str(crawl),
                "--out-dir", str(tmp_path / "o"),
                "--decontaminate", bad,
            ]
        )
