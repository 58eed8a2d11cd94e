"""Training-mix assembly (text/mixing.py): stratified sampling and
sequence packing pinned against independent pure-Python references,
plus the funnel query's cross-stage consistency."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row


def _docs(spark):
    rows = []
    for i in range(60):
        lang = ["en", "es", "zh"][i % 3]
        text = " ".join(f"w{j}" for j in range((i * 7) % 40 + 1))
        rows.append(Row(doc_id=i, lang=lang, text=text))
    rows.append(Row(doc_id=60, lang="en", text=""))  # token-free doc
    return spark.createDataFrame(rows)


def test_stratified_sample_matches_python(spark):
    from ocr_inference_spark.text.mixing import stratified_sample

    df = _docs(spark)
    got = {
        (r["lang"], r["doc_id"]): r["rnk"]
        for r in stratified_sample(df, quota=5).collect()
    }
    # independent reference draw
    by_lang: dict[str, list[tuple[str, int]]] = {}
    for i in range(61):
        lang = ["en", "es", "zh"][i % 3] if i < 60 else "en"
        key = hashlib.md5(f"mix-v1:{i}".encode()).hexdigest()
        by_lang.setdefault(lang, []).append((key, i))
    want = {}
    for lang, entries in by_lang.items():
        for rnk, (_, d) in enumerate(sorted(entries)[:5], start=1):
            want[(lang, d)] = rnk
    assert got == want


def test_stratified_sample_salt_redraws(spark):
    from ocr_inference_spark.text.mixing import stratified_sample

    df = _docs(spark)
    a = {
        (r["lang"], r["doc_id"])
        for r in stratified_sample(df, quota=5, salt="mix-v1").collect()
    }
    b = {
        (r["lang"], r["doc_id"])
        for r in stratified_sample(df, quota=5, salt="mix-v2").collect()
    }
    assert a != b  # a salt change redraws
    assert len(a) == len(b) == 15  # but quotas hold


def test_pack_sequences_matches_python(spark):
    from ocr_inference_spark.text.mixing import pack_sequences

    df = _docs(spark)
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["tok_end"], r["bin_start"], r["bin_end"]
        )
        for r in pack_sequences(df, budget=16).collect()
    }
    cum: dict[str, int] = {}
    want = {}
    for i in range(60):  # doc 60 is token-free: excluded
        lang = ["en", "es", "zh"][i % 3]
        n = (i * 7) % 40 + 1
        start = cum.get(lang, 0)
        end = start + n
        cum[lang] = end
        want[i] = (n, end, start // 16, (end - 1) // 16)
    assert got == want
    assert 60 not in got


def test_pack_long_doc_spans_bins(spark):
    from ocr_inference_spark.text.mixing import pack_sequences

    df = spark.createDataFrame(
        [
            Row(doc_id=0, lang="en", text="a b c"),  # ends at 3
            Row(doc_id=1, lang="en", text=" ".join(["t"] * 20)),  # 3..23
        ]
    )
    rows = {r["doc_id"]: r for r in pack_sequences(df, budget=8).collect()}
    assert rows[0]["bin_start"] == 0 and rows[0]["bin_end"] == 0
    assert rows[1]["bin_start"] == 0 and rows[1]["bin_end"] == 2


def test_quality_funnel_is_monotone_and_consistent(spark, tmp_path):
    """Funnel counts must be monotone non-increasing, start at the
    corpus size, and agree with recomputing the verdicts directly."""
    from ocr_inference_spark.queries import q70_quality_funnel

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        q70_quality_funnel(spark, sf).collect(), key=lambda r: r["stage"]
    )
    names = [r["stage_name"] for r in rows]
    counts = [r["survivors"] for r in rows]
    assert names == [
        "extracted",
        "c4_clean",
        "gopher_quality",
        "gopher_repetition",
        "exact_dedup",
    ]
    assert counts[0] == 500
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[-1] > 0


def test_bpe_pair_counting_semantics(spark, monkeypatch, tmp_path):
    """BPE pair counts: repeated pairs inside one word count per
    occurrence, weighted by word frequency (the published algorithm's
    counting rule)."""
    import ocr_inference_spark.queries as Q

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="aaa aaa ab"), Row(doc_id=1, text="aaa Ab!")]
    )
    real_t = Q._t
    monkeypatch.setattr(
        Q, "_t", lambda spark, sf, name, spread=False: docs
        if name == "documents" else real_t(spark, sf, name, spread)
    )
    got = {
        (r["left"], r["right"]): r["pair_count"]
        for r in Q.q75_bpe_pair_stats(spark, "unused").collect()
    }
    # 'aaa' freq 3 -> ('a','a') twice per word = 6; 'ab' freq 2 -> 2
    assert got == {("a", "a"): 6, ("a", "b"): 2}


def _dsir_python_reference(docs, target_mod=7, target_at=3, buckets=1024):
    """Independent pure-Python DSIR: hashed unigram+bigram features,
    add-one smoothed p (target slice) / q (raw) bucket models,
    floor-of-ln micro-unit weights."""
    import math

    def toks(text):
        import re

        return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % buckets

    feats = {}
    for doc_id, text in docs:
        w = toks(text)
        fs = w + [f"{a} {b}" for a, b in zip(w, w[1:])]
        feats[doc_id] = [bucket(f) for f in fs]
    q_cnt: dict[int, int] = {}
    p_cnt: dict[int, int] = {}
    for doc_id, bs in feats.items():
        for b in bs:
            q_cnt[b] = q_cnt.get(b, 0) + 1
            if doc_id % target_mod == target_at:
                p_cnt[b] = p_cnt.get(b, 0) + 1
    q_tot = sum(q_cnt.values())
    p_tot = sum(p_cnt.values())
    w_micro = {
        b: math.floor(1e6 * math.log((p_cnt.get(b, 0) + 1.0) / (p_tot + buckets)))
        - math.floor(1e6 * math.log((q_cnt[b] + 1.0) / (q_tot + buckets)))
        for b in q_cnt
    }
    out = {}
    for doc_id, bs in feats.items():
        if bs:
            out[doc_id] = (len(bs), sum(w_micro[b] for b in bs))
    return out


def test_dsir_weights_match_python(spark):
    from ocr_inference_spark.text.mixing import dsir_weights

    df = _docs(spark)
    got = {
        r["doc_id"]: (r["n_features"], r["weight_micro"])
        for r in dsir_weights(df.select("doc_id", "text")).collect()
    }
    docs = [(r["doc_id"], r["text"]) for r in df.collect()]
    want = _dsir_python_reference(docs)
    assert got == want
    assert 60 not in got  # the token-free doc has no features


def test_dsir_target_slice_scores_highest(spark):
    """Docs sharing the target slice's vocabulary must outrank docs
    with disjoint vocabulary: plant a distinctive phrase on the
    target slice plus one non-target doc, gibberish elsewhere."""
    from ocr_inference_spark.text.mixing import dsir_select

    rows = []
    for i in range(40):
        if i % 7 == 3 or i == 5:
            text = "quick brown fox jumps over the lazy dog " * 3
        else:
            text = " ".join(f"junk{i}x{j}" for j in range(24))
        rows.append(Row(doc_id=i, text=text))
    df = spark.createDataFrame(rows)
    want_high = {i for i in range(40) if i % 7 == 3 or i == 5}  # 7 docs
    top = [
        r["doc_id"]
        for r in dsir_select(df, top_k=len(want_high)).collect()
    ]
    assert set(top) == want_high
    assert 5 in top  # the non-target look-alike is selected


def test_dsir_topk_tiebreak_deterministic(spark):
    """Identical docs have identical weights; the k-cut must take the
    smallest doc_ids."""
    from ocr_inference_spark.text.mixing import dsir_select

    rows = [Row(doc_id=i, text="same text for every doc") for i in range(10)]
    df = spark.createDataFrame(rows)
    got = [r["doc_id"] for r in dsir_select(df, top_k=4).collect()]
    assert got == [0, 1, 2, 3]
