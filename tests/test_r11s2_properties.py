"""Seeded randomized batteries for the r11-s2 operator surfaces —
independent Python reference models, the `tests/test_curation_properties.py`
discipline: each property is checked against a from-scratch model, not
against the implementation's own building blocks.
"""

from __future__ import annotations

import hashlib
import io
import random

from pyspark.sql import functions as F

from ir_analyses_spark.io.warc_datasource import (
    _record_bytes,
    iter_warc_records_stream,
)
from ir_analyses_spark.llm.bloomdecon import (
    _K_HASHES,
    _M_BITS,
    bloom_decontaminate_filter,
    bloom_decontaminate_filter_packed,
)
from ir_analyses_spark.llm.fim import fim_transform
from ir_analyses_spark.ops.layout import _interleave
from ir_analyses_spark.ops.skyline import skyline


def test_morton_interleave_roundtrip_random(spark):
    """Random (x, y) → z → deinterleave (independent bit surgery in
    Python) must return (x, y); z values must be unique per cell."""
    rng = random.Random(411)
    pts = [(rng.randrange(256), rng.randrange(256)) for _ in range(500)]
    df = spark.createDataFrame(pts, "x long, y long").select(
        "x", "y", _interleave(F.col("x"), F.col("y")).alias("z")
    )
    seen = set()
    for r in df.collect():
        x = sum(((r["z"] >> (2 * b)) & 1) << b for b in range(8))
        y = sum(((r["z"] >> (2 * b + 1)) & 1) << b for b in range(8))
        assert (x, y) == (r["x"], r["y"])
        seen.add(r["z"])
    assert len(seen) == len({p for p in pts})


def test_fim_lossless_on_random_unicode(spark):
    """Random multilingual strings (ASCII, CJK, emoji, combining marks)
    through the transform: every applied row reassembles exactly; every
    row's psm_text is reconstructible from the parts."""
    rng = random.Random(1102)
    alphabet = (
        "abc def ghi ノード 語 🌊 x́y zz " * 3
    )
    docs = []
    for i in range(60):
        n = rng.randrange(0, 120)
        docs.append((i, "".join(rng.choice(alphabet) for _ in range(n))))
    out = fim_transform(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).collect()
    texts = dict(docs)
    for r in out:
        if r["fim_applied"]:
            assert r["prefix"] + r["middle"] + r["suffix"] == texts[r["doc_id"]]
            assert r["lossless"] is True
        else:
            assert r["prefix"] == texts[r["doc_id"]]
            assert r["psm_text"] == texts[r["doc_id"]]


def test_warc_stream_framing_random_chunks():
    """Random record sets framed through random chunk sizes must equal
    the whole-bytes canonical parse — including pathological payloads
    containing CRLFCRLF, 'WARC/' markers, and 'Content-Length:' text."""
    from ir_analyses_spark.io.warc import iter_warc_records

    rng = random.Random(987)
    adversarial = [
        "plain body",
        "embedded\r\n\r\ndouble crlf",
        "fake marker WARC/1.0 inside",
        "fake header\r\nContent-Length: 99999\r\nmore",
        "",
        "x" * 5000,
    ]
    for trial in range(8):
        recs = [
            _record_bytes(i, rng.choice(adversarial))
            for i in range(rng.randrange(1, 40))
        ]
        blob = b"".join(recs)
        whole = list(iter_warc_records(blob))
        chunk = rng.choice([7, 64, 1024, 65536])
        streamed = list(
            iter_warc_records_stream(io.BytesIO(blob), chunk=chunk)
        )
        assert streamed == whole, (trial, chunk)


def test_skyline_random_vs_quadratic_reference(spark):
    """Random point sets (with deliberate duplicates and ties) vs an
    independent O(n²) dominance check."""
    rng = random.Random(77)
    for trial in range(3):
        pts = [
            (i, float(rng.randrange(10)), rng.randrange(10))
            for i in range(120)
        ]
        df = spark.createDataFrame(
            pts, "p_partkey long, p_retailprice double, p_size int"
        )
        got = {r["p_partkey"] for r in skyline(df).collect()}
        expect = set()
        for k, p, s in pts:
            dominated = any(
                (p2 <= p and s2 >= s and (p2 < p or s2 > s))
                for _, p2, s2 in pts
            )
            if not dominated:
                expect.add(k)
        assert got == expect, trial


def _py_bloom_keep(docs, bench, permille):
    """Independent pure-Python model of the gate (both Spark forms must
    match it): md5-sliced double hashing, m-bit set, per-doc distinct
    3-gram hit share."""
    def grams(text):
        w = text.split(" ")
        return {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()

    def positions(g):
        hx = hashlib.md5(g.encode()).hexdigest()
        h1 = int(hx[0:15], 16)
        h2 = int(hx[16:31], 16)
        return [(h1 + j * h2) % _M_BITS for j in range(_K_HASHES)]

    bits = set()
    for _, text in bench:
        for g in grams(text):
            bits.update(positions(g))
    keep = set()
    for doc_id, text in docs:
        gs = grams(text)
        if not gs:
            keep.add(doc_id)
            continue
        hits = sum(1 for g in gs if all(p in bits for p in positions(g)))
        if 1000 * hits <= permille * len(gs):
            keep.add(doc_id)
    return keep


def test_bloom_gate_threeway_random(spark):
    """Randomized three-way differential: default (codegen join) form ==
    packed (zero-shuffle) form == the pure-Python model, across corpora
    built from a small vocabulary so hits are common."""
    rng = random.Random(5150)
    vocab = [f"w{i}" for i in range(12)]
    for trial, permille in [(0, 100), (1, 400), (2, 800)]:
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 15))))
            for i in range(80)
        ]
        bench = [
            (0, " ".join(rng.choice(vocab) for _ in range(20))),
            (1, " ".join(rng.choice(vocab) for _ in range(20))),
        ]
        sdocs = spark.createDataFrame(docs, "doc_id long, text string")
        sbench = spark.createDataFrame(bench, "doc_id long, text string")
        a = {
            r["doc_id"]
            for r in bloom_decontaminate_filter(
                sdocs, sbench, max_hit_permille=permille
            ).collect()
        }
        b = {
            r["doc_id"]
            for r in bloom_decontaminate_filter_packed(
                sdocs, sbench, max_hit_permille=permille
            ).collect()
        }
        c = _py_bloom_keep(docs, bench, permille)
        assert a == b == c, (trial, permille, a ^ c)
        # vacuity: the trial must exercise both outcomes somewhere
        if trial == 0:
            assert len(c) < len(docs)
        assert c  # never drops everything at these permilles... unless
        # the small vocab saturates — then the assert above documents it


def test_novelty_random_vs_python_model(spark):
    """Random small-vocabulary corpora vs an independent Python
    first-seen model over the SAME md5-hashed gram keys — guards the
    skew-robust aggregation rewrite (groupBy-min + count-of-firsts)
    beyond value parity."""
    from ir_analyses_spark.llm.novelty import ngram_novelty_scores

    rng = random.Random(20260816)
    vocab = [f"v{i}" for i in range(9)]
    docs = [
        (i * 7 + 3, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 12))))
        for i in range(50)
    ]
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_novel"])
        for r in ngram_novelty_scores(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }

    def hg(g):
        return int(hashlib.md5(g.encode()).hexdigest()[0:15], 16)

    first = {}
    expect = {}
    for doc_id, text in sorted(docs):  # first-seen is by doc_id order
        w = text.split(" ")
        gs = {hg(" ".join(w[i : i + 3])) for i in range(len(w) - 2)} if len(w) >= 3 else set()
        if not gs:
            continue  # docs with no grams have no output row
        novel = 0
        for g in gs:
            if g not in first:
                first[g] = doc_id
                novel += 1
        expect[doc_id] = (len(gs), novel)
    assert got == expect and expect
