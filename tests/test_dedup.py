"""Semantic tests for the dedup tier beyond the DuckDB oracle gate —
chiefly that MinHash-LSH (approximate candidate generation) loses no
pairs the exact inverted-index Jaccard finds at the 0.5 threshold.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bfs_mapreduce_spark.operators.dedup_queries import (
    minhash_signature,
    q_dedup_minhash_lsh,
    q_dedup_ngram_jaccard,
)


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_lsh_finds_all_exact_pairs(spark, sf_oracle_dir):
    """LSH(threshold 0.5) must reproduce the exact-Jaccard pair set at
    >=0.5 on the planted near-dups (r=2/b=32 ⇒ P(miss|j=0.5) ~ 1e-4;
    a miss here means the banding is wired wrong, not bad luck)."""
    exact = q_dedup_ngram_jaccard(spark, sf_oracle_dir).filter(F.col("jaccard") >= 0.5)
    lsh = q_dedup_minhash_lsh(spark, sf_oracle_dir)
    exact_pairs = _pairs(exact)
    lsh_pairs = _pairs(lsh)
    assert exact_pairs, "fixture should contain planted near-dup pairs"
    assert exact_pairs == lsh_pairs


def test_minhash_similarity_estimate(spark):
    """Signature agreement rate estimates Jaccard: two synthetic docs
    sharing half their shingles must agree on roughly half the hashes."""
    df = spark.createDataFrame(
        [
            (1, [f"s{i}" for i in range(0, 100)]),
            (2, [f"s{i}" for i in range(50, 150)]),  # jaccard = 50/150 ≈ 0.33
        ],
        "doc_id bigint, shingles array<string>",
    )
    sigs = {
        r["doc_id"]: r["sig"]
        for r in df.select("doc_id", minhash_signature(F.col("shingles")).alias("sig")).collect()
    }
    agree = sum(a == b for a, b in zip(sigs[1], sigs[2])) / 64
    assert 0.15 <= agree <= 0.55, agree  # E=1/3, binomial n=64


def test_identical_docs_identical_signature(spark):
    df = spark.createDataFrame(
        [(1, ["a b c", "b c d"]), (2, ["a b c", "b c d"])],
        "doc_id bigint, shingles array<string>",
    )
    sigs = [
        r["sig"]
        for r in df.select(minhash_signature(F.col("shingles")).alias("sig")).collect()
    ]
    assert sigs[0] == sigs[1]


def test_shingle_rows_equals_array_form(spark):
    """shingle_rows (codegen'd posexplode+lead path) must produce
    exactly the shingle sets of the reference array form _shingles3."""
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.operators.dedup_queries import _shingles3, _words, shingle_rows

    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),
            (1, "x y"),          # <3 words → no shingles
            (2, "a b c a b c"),  # repeated trigram → deduped
        ],
        "doc_id bigint, text string",
    )
    via_rows: dict[int, set] = {0: set(), 1: set(), 2: set()}
    for r in shingle_rows(docs).collect():
        via_rows[r["doc_id"]].add(r["s"])
    via_array = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select("doc_id", _shingles3(_words()).alias("sh")).collect()
    }
    assert via_rows == via_array


def test_connected_components_known_graph(spark):
    from bfs_mapreduce_spark.operators.dedup_queries import connected_components

    # components: {1,2,3,4}, {10,11}, {20} (via self-pair)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "s bigint, d bigint"
    )
    got = {r["v"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_deep_path_converges_by_jumping(spark, caplog):
    """A 64-vertex path needs 64 one-hop rounds; pointer jumping after
    the one-hop prefix converges it well inside max_iters=30, with no
    truncation warning."""
    import logging

    from bfs_mapreduce_spark.operators.dedup_queries import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "s bigint, d bigint"
    )
    with caplog.at_level(
        logging.WARNING, logger="bfs_mapreduce_spark.operators.dedup_queries"
    ):
        got = {
            r["v"]: r["cluster_id"]
            for r in connected_components(edges, max_iters=30).collect()
        }
    assert not any("connected_components" in r.message for r in caplog.records)
    assert got == {v: 0 for v in range(64)}


def test_embedding_ann_vs_brute_force(spark, sf_oracle_dir):
    """The LSH-bucketed embedding near-dup must (a) emit only true
    >=0.4-cosine pairs with exact scores (verify step is exact, so it
    is a subset of brute force) and (b) recall most of them — near-dup
    pairs sit at high cosine where hyperplane collision probability is
    high (P(one-table miss) is small, 16 tables make it negligible)."""
    from bfs_mapreduce_spark.operators.dedup_queries import (
        q_dedup_embedding_ann,
        q_dedup_embedding_cosine,
    )

    brute = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in q_dedup_embedding_cosine(spark, sf_oracle_dir).collect()
    }
    ann = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in q_dedup_embedding_ann(spark, sf_oracle_dir).collect()
    }
    assert brute, "fixture should contain embedding near-dup pairs"
    assert set(ann) <= set(brute), "ANN emitted a pair below the 0.4 verify bar"
    for pair, cosine in ann.items():
        assert cosine == brute[pair], f"score mismatch on {pair}"
    recall = len(ann) / len(brute)
    assert recall >= 0.8, f"embedding-ANN recall collapsed: {recall:.3f}"


def test_embedding_ann_plan_has_no_nested_loop(spark, sf_oracle_dir):
    """The scale claim, checked in the physical plan: the ANN variant's
    candidates must come from hash equi-joins on (table, bucket) — no
    BroadcastNestedLoopJoin / CartesianProduct anywhere (the brute-force
    baseline's all-pairs shape)."""
    from bfs_mapreduce_spark.operators.dedup_queries import q_dedup_embedding_ann

    plan = (
        q_dedup_embedding_ann(spark, sf_oracle_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_connected_components_warns_and_refines_monotonically(spark, caplog):
    """The convergence guard (VERDICT r04 item 8): a deliberately-low
    max_iters must trigger the loud non-convergence warning, and the
    truncated labeling must still be a sound intermediate — labels only
    ever DECREASE toward the true min-label as iterations are added
    (the failure mode at scale is a silent cluster split, which this
    pins as detectable-and-monotone rather than arbitrary)."""
    import logging

    from bfs_mapreduce_spark.operators.dedup_queries import connected_components

    # a path of diameter 10: min-label propagation needs 10 rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "s bigint, d bigint"
    )
    with caplog.at_level(
        logging.WARNING, logger="bfs_mapreduce_spark.operators.dedup_queries"
    ):
        coarse = {
            r["v"]: r["cluster_id"]
            for r in connected_components(edges, max_iters=2).collect()
        }
    assert any("connected_components" in r.message for r in caplog.records)
    # plain 1-hop/round propagation: after k rounds label(v) = max(0, v-k)
    assert coarse == {v: max(0, v - 2) for v in range(11)}
    caplog.clear()
    with caplog.at_level(
        logging.WARNING, logger="bfs_mapreduce_spark.operators.dedup_queries"
    ):
        full = {
            r["v"]: r["cluster_id"]
            for r in connected_components(edges, max_iters=50).collect()
        }
    assert not any("connected_components" in r.message for r in caplog.records)
    assert full == {v: 0 for v in range(11)}
    # monotone refinement: more iterations never move a label UP
    assert all(full[v] <= coarse[v] for v in coarse)


def test_lsh_half_cost_point_precision_and_recall(spark, sf_oracle_dir):
    """The parameterized 32-hash/16-band point: precision stays 1.0 by
    construction (every candidate passes the exact-Jaccard verify, so
    its pairs are a SUBSET of the exact >=0.5 set), and recall stays
    high (P(miss | j=0.5) ≈ 1e-2 per pair — on the planted fixture a
    collapse below 0.8 means the parameterization is wired wrong)."""
    from bfs_mapreduce_spark.operators.dedup_queries import minhash_lsh_pairs
    from bfs_mapreduce_spark.sources.readers import load_table

    exact = _pairs(
        q_dedup_ngram_jaccard(spark, sf_oracle_dir).filter(F.col("jaccard") >= 0.5)
    )
    half = _pairs(
        minhash_lsh_pairs(
            load_table(spark, sf_oracle_dir, "documents"), n_hashes=32, rows_per_band=2
        )
    )
    assert half <= exact, f"false positives escaped the verify: {half - exact}"
    assert exact, "fixture should contain planted near-dup pairs"
    recall = len(half) / len(exact)
    assert recall >= 0.8, f"32-hash LSH recall collapsed: {recall:.3f}"


def test_semantic_dedup_keep_rule_invariant(spark, sf_oracle_dir):
    """Independent (numpy) audit of q_dedup_semantic's contract: a
    vector is dropped IFF some lower-id vector in its cell sits at
    rounded cosine >= tau. The DuckDB oracle recomputes the same SQL;
    this check recomputes it from raw vectors in a different engine
    entirely, so a shared SQL-level misunderstanding can't hide."""
    import numpy as np

    from bfs_mapreduce_spark.operators.dedup_queries import (
        _SEMANTIC_TAU,
        q_dedup_semantic,
    )
    from bfs_mapreduce_spark.sources.readers import load_table

    out = q_dedup_semantic(spark, sf_oracle_dir).toPandas()
    emb = load_table(spark, sf_oracle_dir, "embeddings").toPandas()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    by_cell: dict[int, list[int]] = {}
    for r in out.itertuples():
        by_cell.setdefault(r.cell, []).append(r.vec_id)
    expect_keep = {}
    for cell, ids in by_cell.items():
        for v in ids:
            dropped = False
            for u in ids:
                if u >= v:
                    continue
                a, b = vecs[u], vecs[v]
                cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
                if round(cos, 6) >= _SEMANTIC_TAU:
                    dropped = True
                    break
            expect_keep[v] = 0 if dropped else 1
    got = dict(zip(out.vec_id, out.keep))
    assert got == expect_keep
    assert 0 < sum(got.values()) < len(got)  # both classes present


def test_lsh_hot_bucket_candidates_stay_linear(spark):
    """Skew stress for the band join: a corpus where hundreds of
    near-identical docs land in ONE (band, h) bucket must produce
    candidates linear in the bucket size (the star on the bucket
    canonical), never the quadratic all-pairs set — while every hot-
    bucket member still reaches the canonical (dedup recall) and
    ordinary small buckets keep their exact all-pairs behavior."""
    from bfs_mapreduce_spark.operators.dedup_queries import (
        lsh_candidates,
        minhash_lsh_pairs,
    )

    # --- candidate-level bound on a synthetic exploded table
    hot = [(d, 0, 12345) for d in range(200)]          # one bucket, 200 members
    small = [(d, 1, 777) for d in range(1000, 1010)]   # one bucket, 10 members
    exploded = spark.createDataFrame(hot + small, "doc_id bigint, band int, h bigint")
    cand = lsh_candidates(exploded, max_bucket_rows=64).collect()
    hot_cand = [(r.doc_a, r.doc_b) for r in cand if r.doc_b < 1000]
    small_cand = [(r.doc_a, r.doc_b) for r in cand if r.doc_b >= 1000]
    assert len(hot_cand) == 199, len(hot_cand)          # star, not 19900 pairs
    assert all(a == 0 for a, _ in hot_cand)             # canonical = min doc_id
    assert set(b for _, b in hot_cand) == set(range(1, 200))  # every member linked
    assert len(small_cand) == 45, len(small_cand)       # 10 choose 2: exact pairs

    # --- end-to-end: 300 identical docs (every band bucket hot) plus a
    # planted ordinary near-dup pair through the small-bucket path
    boiler = "the quick brown fox jumps over the lazy dog again and again today"
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [(d, boiler) for d in range(300)]
        + [(1000, base + " nu"), (1001, base + " xi")]
        + [(1002, "completely unrelated words about seventeen green submarines")],
        "doc_id bigint, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    # hot cluster: exactly the 299 star pairs on the canonical, all
    # verified at jaccard 1.0; plus the planted near-dup pair
    assert {(0, d) for d in range(1, 300)} <= pairs
    assert len([p for p in pairs if p[1] < 1000]) == 299
    assert (1000, 1001) in pairs
    assert not any(1002 in p for p in pairs)


def test_star_links_survive_below_threshold(spark):
    """Hot-bucket members must never silently fall out of clustering:
    a star (canonical) link whose exact jaccard is BELOW the verify
    threshold is still emitted, marked star=true with its true jaccard
    (as a cluster seed for downstream re-verification). Scenario: docs
    1 and 2 are near-dups of each other (j≈0.97) but both sit at
    j≈0.44 vs the bucket canonical doc 0; with the bucket cap forced
    to 2, the {0,1,2} band buckets go hot and star on doc 0. Without
    the exemption both (0,1) and (0,2) fail verify and doc 0's links
    vanish; the strictly-verified view (jaccard >= threshold) must
    still exclude them."""
    from bfs_mapreduce_spark.operators.dedup_queries import minhash_lsh_pairs

    base = [f"w{i}" for i in range(60)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(base[:38] + [f"x{i}" for i in range(22)])),
            (1, " ".join(base + ["phi"])),
            (2, " ".join(base + ["chi"])),
        ],
        "doc_id bigint, text string",
    )
    rows = {(r.doc_a, r.doc_b): r for r in minhash_lsh_pairs(docs, max_bucket_rows=2).collect()}
    assert set(rows) == {(0, 1), (0, 2), (1, 2)}
    assert rows[(0, 1)].star and rows[(0, 1)].jaccard < 0.5
    assert rows[(0, 2)].star and rows[(0, 2)].jaccard < 0.5
    assert not rows[(1, 2)].star and rows[(1, 2)].jaccard > 0.9
    # strictly-verified view: threshold filter removes the seeds
    verified = {p for p, r in rows.items() if r.jaccard >= 0.5}
    assert verified == {(1, 2)}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=150), min_size=1, max_size=8),
    cap=st.integers(min_value=2, max_value=80),
)
def test_lsh_candidate_count_formula(spark, sizes, cap):
    """lsh_candidates' exact cost contract, property-tested: with
    disjoint buckets of sizes m_i and cap c, the candidate count is
    sum(m_i*(m_i-1)/2 for m_i <= c) + sum(m_i - 1 for m_i > c) —
    quadratic only below the cap, linear above, nothing dropped."""
    from bfs_mapreduce_spark.operators.dedup_queries import lsh_candidates

    rows, base = [], 0
    for b, m in enumerate(sizes):
        rows += [(base + d, b, 1000 + b) for d in range(m)]
        base += m
    exploded = spark.createDataFrame(rows, "doc_id bigint, band int, h bigint")
    got = lsh_candidates(exploded, max_bucket_rows=cap).count()
    want = sum(m * (m - 1) // 2 if m <= cap else m - 1 for m in sizes)
    assert got == want, (sizes, cap, got, want)


def test_substring_exact_catches_stride_straddling_span(spark, tmp_path):
    """The miss the round-8 verdict named: a 40-char span duplicated at
    offsets that never align with the stride-20 window grid is
    invisible to q_dedup_substring but MUST be flagged by
    q_dedup_substring_exact, and the recall twin must report it."""
    from bfs_mapreduce_spark.registry import all_queries

    span = "Z" * 5 + "the exact same forty characters here!" [:30] + "Q" * 5
    assert len(span) == 40
    # span at offset 10 in both docs, different surroundings: every
    # on-stride window mixes span bytes with doc-unique bytes.
    doc_a = "a" * 10 + span + "b" * 30
    doc_b = "c" * 10 + span + "d" * 30
    doc_c = "e" * 80  # control: no shared span
    pdf = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], "doc_id bigint, text string"
    )
    d = str(tmp_path)
    pdf.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    catalog = all_queries()

    strided = {
        r.doc_id
        for r in catalog["q_dedup_substring"].build(spark, d).collect()
    }
    exact = {
        r.doc_id: r.n_dup_pos
        for r in catalog["q_dedup_substring_exact"].build(spark, d).collect()
    }
    assert strided == set()  # the stride misses the straddling span
    assert exact[1] == 1 and exact[2] == 1 and exact[3] == 0
    row = catalog["q_dedup_substring_recall"].build(spark, d).collect()[0]
    assert row.n_docs_exact == 2 and row.n_docs_strided == 0
    assert row.n_docs_missed == 2 and row.doc_recall == 0.0


def test_substring_remove_cuts_merged_spans_exactly(spark, tmp_path):
    """Planted-span removal semantics: a 60-char region shared by two
    docs yields repeated 40-grams at offsets 10..30, whose windows
    union to exactly chars [10, 70) — ONE merged span of 60 chars cut
    from each copy, surviving text = prefix + suffix, byte-verified.
    A clean doc passes through untouched with zero spans."""
    import hashlib

    from bfs_mapreduce_spark.registry import all_queries

    shared = ("the very same sixty characters appear twice in this corpus!" + "!" * 60)[:60]
    assert len(shared) == 60
    doc_a = "a" * 10 + shared + "b" * 30
    doc_b = "c" * 10 + shared + "d" * 30
    doc_c = "e" * 39 + "f" * 61  # unique: its grams repeat in no other doc
    pdf = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], "doc_id bigint, text string"
    )
    d = str(tmp_path)
    pdf.write.mode("overwrite").parquet(f"{d}/documents.parquet")

    out = {
        r.doc_id: r
        for r in all_queries()["q_dedup_substring_remove"].build(spark, d).collect()
    }
    for doc_id, full in ((1, doc_a), (2, doc_b)):
        r = out[doc_id]
        cleaned = full[:10] + full[70:]
        assert r.n_spans == 1 and r.removed_chars == 60
        assert r.cleaned_len == len(cleaned)
        assert r.cleaned_sha == hashlib.sha256(cleaned.encode()).hexdigest()
    r = out[3]
    assert r.n_spans == 0 and r.removed_chars == 0
    assert r.cleaned_sha == hashlib.sha256(doc_c.encode()).hexdigest()


def _replicated_corpus(spark, sf_dir, factor, hot_copies, out_dir):
    """``factor`` replicas of the smoke corpus plus a constant planted
    hot cluster. Replica k suffixes every word with ``_k``, so replicas
    share no shingles and the true near-dup structure grows exactly
    linearly. Embedding replica k is rotated by a seeded orthogonal
    matrix: within-replica cosines are preserved, cross-replica ones
    fall to noise, and its labels are offset so the cell count grows
    with the corpus. Returns ``(documents frame, dir holding
    embeddings.parquet)``."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bfs_mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doc_ids = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"])
    stride = max(doc_ids.column("doc_id").to_pylist()) + 1
    parts = [docs]
    for k in range(1, factor):
        suffix = F.lit(f"_{k}")
        parts.append(
            docs.select(
                (F.col("doc_id") + k * stride).alias("doc_id"),
                F.array_join(
                    F.transform(F.split("text", " "), lambda w: F.concat(w, suffix)),
                    " ",
                ).alias("text"),
            )
        )
    hot_text = " ".join(
        ["terms of service privacy policy all rights reserved contact us"] * 5
    )
    parts.append(
        spark.range(hot_copies).select(
            (F.col("id") + factor * stride).alias("doc_id"),
            F.lit(hot_text).alias("text"),
        )
    )
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)

    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    labels = np.asarray(emb.column("label").to_pylist(), dtype=np.int32)
    vec_ids = np.asarray(emb.column("vec_id").to_pylist())
    vstride = int(vec_ids.max()) + 1
    ids, embs, labs = [], [], []
    for k in range(factor):
        rot = np.eye(vecs.shape[1])
        if k:
            rot, _ = np.linalg.qr(
                np.random.default_rng(1000 + k).standard_normal(rot.shape)
            )
        ids.append(vec_ids + k * vstride)
        embs.append((vecs @ rot.T).astype(np.float32))
        labs.append(labels + k * 1000)
    root = os.path.join(out_dir, f"x{factor}")
    os.makedirs(root)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.concatenate(ids),
                "embedding": list(np.concatenate(embs)),
                "label": np.concatenate(labs),
            }
        ),
        os.path.join(root, "embeddings.parquet"),
    )
    return corpus, root


def test_dedup_phase_rows_grow_linearly_with_corpus(spark, sf_smoke_dir, tmp_path):
    """No dedup phase's row volume grows super-linearly in the corpus:
    at 1x and 2x replicas of the smoke corpus plus a CONSTANT planted
    hot cluster, the hot cluster's star candidates stay equal, while
    non-star LSH candidates, band-table rows, the semantic in-cell
    pair volume and substring gram rows grow at most linearly. Gram
    rows are exact: one per character offset, sum(len - L + 1)."""
    from bfs_mapreduce_spark.operators.dedup_queries import (
        _SUB_L,
        lsh_candidates,
        minhash_band_table,
        q_dedup_semantic,
        shingle_arrays,
        substring_fingerprints,
    )

    hot = 100  # above lsh_candidates' default 64-row bucket cap
    rows = {}
    for factor in (1, 2):
        docs, emb_dir = _replicated_corpus(
            spark, sf_smoke_dir, factor, hot, str(tmp_path)
        )
        bt = minhash_band_table(shingle_arrays(docs)).cache()
        n_cand, n_star = (
            lsh_candidates(bt)
            .agg(F.count(F.lit(1)), F.sum(F.col("star").cast("int")))
            .first()
        )
        sem = q_dedup_semantic(spark, emb_dir)
        sdocs = docs.filter(F.length("text") >= _SUB_L)
        rows[factor] = {
            "band_table": bt.count(),
            "candidates": n_cand,
            "star": n_star,
            "semantic_pairs": sem.groupBy("cell")
            .count()
            .agg(F.sum(F.expr("count * (count - 1) / 2")))
            .first()[0],
            "grams": substring_fingerprints(sdocs).count(),
            "grams_want": sdocs.agg(
                F.sum(F.length("text") - _SUB_L + 1)
            ).first()[0],
        }
        bt.unpersist()
    r1, r2 = rows[1], rows[2]
    # every band bucket of the hot cluster is one star on its canonical
    assert r1["star"] == r2["star"] == hot - 1, rows
    nonstar = {f: r["candidates"] - r["star"] for f, r in rows.items()}
    assert nonstar[1] > 0 and nonstar[2] <= 2 * nonstar[1] + 16, rows
    assert r2["band_table"] < 2 * r1["band_table"], rows  # 2x docs + const hot
    assert r1["semantic_pairs"] > 0
    assert r2["semantic_pairs"] <= 2.5 * r1["semantic_pairs"], rows
    for r in (r1, r2):
        assert r["grams"] == r["grams_want"] > 0, rows
