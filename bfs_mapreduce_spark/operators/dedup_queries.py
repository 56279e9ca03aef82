"""Deduplication operators over the ``documents`` table — the first
pillar of the LLM-training-data tier (SURVEY.md §2.10 NEW rows).

The reference's only dedup is membership-tested list inserts during
the shuffle merge (``BFS_map_reduce.py:18-22,132-136``); these
operators generalize that to corpus-level document dedup:

- exact dedup        — content-hash groupBy (sha256)
- MinHash + LSH      — banded signatures → bucket join → verified
                       Jaccard (never all-pairs; the 100 TB path)
- exact n-gram Jaccard — inverted-index self-join (the oracle-able
                       exact formulation of near-dup)
- SimHash            — 60-bit sign-aggregated fingerprint
- embedding cosine   — near-dup in embedding space

Scale posture: every operator here is bounded by an inverted-index or
bucket join keyed on shingle/band — candidate generation is
O(sum of bucket sizes choose 2), never O(n²) over the corpus. Hot
buckets (stopword-like shingles) are the skew risk at 100 TB: the
exact-Jaccard query drops shingles with document frequency above a
cap (standard practice — a shingle shared by thousands of docs
carries no near-dup signal but quadratic join cost), and AQE skew
handling splits what remains.

Hash parity note: oracle-paired queries hash words with a 60-bit
md5-prefix hash that DuckDB can reproduce bit-for-bit
(``('0x'||substr(md5(w),1,15))::BIGINT``). The LSH pipeline (no
oracle) uses ``xxhash64`` — the cheap JVM hash you'd use at 100 TB.
"""

from __future__ import annotations

import logging
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bfs_mapreduce_spark.operators.graph import _min_label_fixpoint
from bfs_mapreduce_spark.plans.reliable import (
    ckpt as _ckpt,  # lineage truncation: localCheckpoint, or a durable
    ckpt_lazy as _ckpt_lazy,  # parquet spill inside reliable_checkpoints()
)
from bfs_mapreduce_spark.registry import register
from bfs_mapreduce_spark.sources.readers import load_table

logger = logging.getLogger(__name__)

# ---------------------------------------------------------------- shared text fragments

# Spark: documents.text → array of words (single-space separated corpus).
def _words(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


def _shingles3(words: F.Column | str) -> F.Column:
    """Distinct word-trigram shingles, 1-based element_at so the
    expression mirrors DuckDB list indexing exactly.

    Pass a column NAME (the hot path) and the whole expression is built
    as one SQL string — a single py4j parse instead of the ~30 gateway
    round trips the composed-Column/lambda form costs (measured 126 ms
    per build; the r18-verdict #4 build-vs-execute gap). Passing a
    Column keeps the composed form for expression-valued inputs."""
    if isinstance(words, str):
        w = words
        return F.expr(
            f"CASE WHEN size({w}) >= 3 THEN array_distinct(transform("
            f"sequence(0, size({w}) - 3), i -> concat_ws(' ', "
            f"element_at({w}, i + 1), element_at({w}, i + 2), "
            f"element_at({w}, i + 3)))) "
            f"ELSE cast(array() as array<string>) END"
        )
    tri = F.transform(
        F.sequence(F.lit(0), F.size(words) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(words, i + 1),
            F.element_at(words, i + 2),
            F.element_at(words, i + 3),
        ),
    )
    return F.when(F.size(words) >= 3, F.array_distinct(tri)).otherwise(
        F.array().cast("array<string>")
    )


# DuckDB twins of the fragments above (kept adjacent so parity edits stay atomic).
_SQL_WORDS = "string_split(text, ' ')"
_SQL_SHINGLES = f"""
  CASE WHEN len({_SQL_WORDS}) >= 3 THEN
    list_distinct(list_transform(range(len({_SQL_WORDS}) - 2),
      i -> {_SQL_WORDS}[i+1] || ' ' || {_SQL_WORDS}[i+2] || ' ' || {_SQL_WORDS}[i+3]))
  ELSE [] END
"""


def shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles array) with ZERO shuffles: materialize the
    words array behind a localCheckpoint barrier, then run the
    ``_shingles3`` transform over the concrete column.

    Why the barrier: Spark higher-order functions are interpreted and
    re-evaluate their input expression per lambda call — fused with the
    scan, ``_shingles3`` re-ran ``split(text)`` for every element
    (measured ~6s to shingle 5k docs). Against a materialized array
    column the same transform is ~cheap element_at lookups (measured
    2x faster than even the posexplode+window+distinct row formulation,
    and it hands the verify step its arrays for free).

    The barrier is a LAZY localCheckpoint (round 19): ``w`` has exactly
    one consumer — the shingle projection right below — so the eager
    form's standalone materialization job bought nothing; lazy defers
    the split to the first job that reads the shingles, one job instead
    of two, same barrier semantics (downstream still plans against a
    concrete RDD scan, so the HOFs never re-split per element)."""
    w = docs.select("doc_id", F.split("text", " ").alias("words")).transform(_ckpt_lazy)
    return w.select("doc_id", _shingles3("words").alias("shingles")).filter(
        F.size("shingles") > 0
    )


def shingle_rows(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) rows (the inverted-index feed) —
    explode of ``shingle_arrays`` (already per-doc distinct)."""
    return shingle_arrays(docs).select("doc_id", F.explode("shingles").alias("s"))


def _hash60(col: F.Column) -> F.Column:
    """60-bit hash both engines can compute identically: first 15 hex
    chars of md5, parsed base-16."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


_SQL_HASH60 = "('0x' || substr(md5({w}), 1, 15))::BIGINT"


# ---------------------------------------------------------------- exact dedup


@register(
    "q_dedup_exact",
    oracle="""
    SELECT sha256(text) AS text_hash,
           MIN(doc_id)  AS canonical_id,
           COUNT(*)     AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
    doc="Exact dedup: content-hash groupBy; canonical row = min doc_id. "
    "At 100 TB this is one hash-shuffle on a 64-hex key with automatic "
    "partial aggregation — the cheapest possible dedup.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2(F.col("text"), 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "q_dedup_exact_keep",
    oracle="""
    SELECT doc_id, lang, source
    FROM (SELECT doc_id, lang, source,
                 ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn = 1
    """,
    doc="The deduplicated corpus itself: first doc_id per content hash "
    "survives (deterministic keep-rule).",
)
def q_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------- exact n-gram Jaccard


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    df AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 100),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM ex a JOIN df USING (s) JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.3
    """,
    doc="Exact trigram-shingle Jaccard near-dup via inverted-index "
    "self-join: candidates only for docs sharing a shingle, with a "
    "document-frequency cap (df<=100) so stop-shingles can't go "
    "quadratic — the exact (non-approximate) scale formulation.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_arrays(docs).transform(_ckpt)  # arrays materialized once
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    # df-cap: shingles shared by >100 docs are candidate-join poison at
    # scale and carry no near-dup signal.
    keep = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= 100)
    exk = ex.join(keep.select("s"), "s")
    a = exk.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("inter") / (F.col("sa.n") + F.col("sb.n") - F.col("inter"))
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.3)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------- MinHash + LSH

# Deterministic minhash coefficients (fixed seed → stable results/tests).
# Hashes are folded to 31 bits and coefficients capped below 2^31 so
# a*h+b < 2^62 — no long overflow under ANSI arithmetic. The modulus
# must sit just ABOVE the folded hash domain, not above the product:
# with the classic universal family ((a*h + b) mod p), mixing comes
# from the product wrapping p many (~a) times. An earlier revision
# used p = 2^61-1 against 31-bit h — products < 2^62 wrap such a p at
# most twice, leaving the "permutations" nearly monotone in h and
# heavily correlated across coefficients (measured: 5/64 signature
# agreement at true jaccard 0.52, vs the ~33/64 an unbiased estimator
# gives). p = 2^31-1 (Mersenne) restores the textbook family:
# h < 2^31 ≈ p, a ∈ [1, p), so a*h+b wraps ~a times and the minhash
# agreement rate is an unbiased jaccard estimate again.
_P = (1 << 31) - 1  # Mersenne prime 2^31-1, just above the folded domain
_H31 = 1 << 31
_rng = random.Random(0x5EED)
_MINHASH_AB = [(_rng.randrange(1, _P), _rng.randrange(0, _P)) for _ in range(64)]
_LSH_ROWS_PER_BAND = 2  # r=2, b=32: P(candidate | j=0.5) ≈ 0.9999


def minhash_signature(shingles: F.Column) -> F.Column:
    """64-permutation MinHash signature computed entirely inside one
    JVM projection — no shuffle, no UDF: sig[j] = min over shingles of
    (a_j * xxhash64(s) + b_j) mod P. Java long arithmetic wraps on
    overflow; the wrap is deterministic and identical on every
    executor, which is all minhash needs."""
    def one_perm(a: int, b: int) -> F.Column:
        def h(s: F.Column) -> F.Column:
            h31 = F.pmod(F.xxhash64(s), F.lit(_H31))
            return F.pmod(F.lit(a) * h31 + F.lit(b), F.lit(_P))

        return F.array_min(F.transform(shingles, h))

    return F.array(*[one_perm(a, b) for a, b in _MINHASH_AB])


def lsh_candidates(
    exploded: DataFrame, max_bucket_rows: int = 64
) -> DataFrame:
    """Candidate ``(doc_a < doc_b, star)`` pairs from exploded
    ``(doc_id, band, h)`` rows, with the hot-bucket skew guard.

    Buckets up to ``max_bucket_rows`` contribute all within-bucket
    pairs (m*(m-1)/2), emitted with ``star = false``. Larger buckets —
    thousands of near-identical boilerplate docs landing in one
    (band, h) — would go quadratic, so they instead contribute a STAR:
    every member links to the bucket's min doc_id (m-1 candidates,
    ``star = true``). Star links are connected-components SEEDS, not
    verified near-dup claims: band-signature equality does not imply
    high full Jaccard, so the caller must treat them as cluster edges
    whose membership is re-verified downstream (``minhash_lsh_pairs``
    exempts them from its threshold filter and carries their true
    jaccard so nothing inside a hot bucket silently drops out of
    clustering). What the star gives up is PAIR completeness inside
    hot buckets — the full m^2 pair list within a 10k-copy cluster —
    which no 100 TB pipeline wants materialized anyway.

    Implementation: ONE aggregation by (band, h) collects each
    bucket's sorted member list, then pair expansion happens in-row
    with higher-order functions — no self-join, no skew probe, no
    driver-side branch, so the no-skew path costs exactly the same
    plan as the skewed one (an empty hot set). Each bucket
    materializes as a single array row: linear in bucket size (an
    exact-dup crowd of 1M docs is an 8 MB row — run q_dedup_exact
    first in a real pipeline, as any 100 TB flow would).
    """
    members = (
        exploded.groupBy("band", "h")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    # One SQL-string parse for the whole pair expansion (round 19): the
    # composed-Column form with nested Python lambdas cost ~260 ms of
    # py4j gateway chatter per build (the r18-verdict #4 gap). Same
    # expression tree, same values. Lambda index i is 0-based in SQL
    # transform exactly as in F.transform.
    all_pairs = (
        "flatten(transform(ms, (x, i) -> transform("
        "slice(ms, i + 2, size(ms)), "
        "y -> struct(x AS doc_a, y AS doc_b, false AS star))))"
    )
    star_pairs = (
        "transform(slice(ms, 2, size(ms)), "
        "y -> struct(element_at(ms, 1) AS doc_a, y AS doc_b, true AS star))"
    )
    return (
        members.select(
            F.expr(
                f"explode(CASE WHEN size(ms) <= {int(max_bucket_rows)} "
                f"THEN {all_pairs} ELSE {star_pairs} END) AS p"
            )
        )
        .select("p.doc_a", "p.doc_b", "p.star")
        # the same pair can surface from several buckets (possibly once
        # as a cold all-pair and once as a hot star) — keep one row;
        # star=true survives the merge so every hot-bucket member's
        # canonical link is preserved (the clustering guarantee)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("star").alias("star"))
    )


def minhash_band_table(
    sh: DataFrame, n_hashes: int = 64, rows_per_band: int = 2
) -> DataFrame:
    """Exploded LSH band table ``(doc_id, band, h)`` from
    ``(doc_id, shingles)`` rows — the signature + banding stage of
    ``minhash_lsh_pairs``, exposed so its row volume can be counted as
    its own phase.

    Signatures go via shingle ROWS → ``n_hashes`` codegen'd MIN
    aggregates (one shuffle, map-side partial agg). Identical values
    to ``minhash_signature()``'s array form, but whole-stage-codegen'd:
    Spark higher-order functions are interpreted per element, and 64
    of them per row was the dominant cost of this query (measured
    2-3x the rest of the pipeline combined).
    """
    if not 0 < n_hashes <= len(_MINHASH_AB):
        raise ValueError(f"n_hashes must be in 1..{len(_MINHASH_AB)}")
    if n_hashes % rows_per_band:
        raise ValueError("rows_per_band must divide n_hashes")
    # Expressions are built as SQL STRINGS rather than composed Column
    # objects (~6 round trips per hash): with 64 min-aggregates plus 32
    # band structs, Column composition cost the DRIVER ~1.2 s of py4j
    # chatter per call — measured as the gap between the bench's fused
    # minhash line and the sum of its executed phases (round 10).
    # Round 19 collapses the remaining 64 per-aggregate F.expr parses
    # (one py4j round trip + one SQL parse EACH, ~250 ms/build) into a
    # single struct-of-mins expression: TWO parses for the whole stage.
    # Same arithmetic, same values; only the construction path changes.
    # The L suffixes force long literals so a * h31 + b stays 64-bit
    # exactly as F.lit(int) did.
    rows = sh.select("doc_id", F.explode("shingles").alias("s"))
    ex = rows.select("doc_id", F.expr(f"pmod(xxhash64(s), {_H31}L) AS h31"))
    mins = ", ".join(
        f"min(pmod({a}L * h31 + {b}L, {_P}L)) AS m{j}"
        for j, (a, b) in enumerate(_MINHASH_AB[:n_hashes])
    )
    sig = ex.groupBy("doc_id").agg(F.expr(f"struct({mins}) AS sig"))
    n_bands = n_hashes // rows_per_band
    structs = ", ".join(
        "named_struct('band', {i}, 'h', xxhash64({cols}))".format(
            i=i,
            cols=", ".join(
                f"sig.m{i * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for i in range(n_bands)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({structs})) AS bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 64,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket_rows: int = 64,
) -> DataFrame:
    """Parameterized MinHash-LSH near-dup pairs over ``documents``.

    The (n_hashes, rows_per_band) point sets the recall/cost tradeoff:
    with b = n_hashes/rows_per_band bands of r rows,
    P(candidate | j) = 1 - (1 - j^r)^b, so at the 0.5 verify threshold

    - 64 hashes, r=2 (32 bands): P(miss) = 0.75^32 ≈ 1e-4 — the
      default; a planted near-dup escaping means miswired banding,
      not bad luck.
    - 32 hashes, r=2 (16 bands): P(miss) = 0.75^16 ≈ 1e-2 — half the
      signature cost (the suite's biggest line, BASELINE.md), but ~1%
      of borderline pairs slip per run. Offered for corpora where the
      exact-verify step (not the signature agg) dominates.

    Output: ``(doc_a, doc_b, jaccard, star)``. Every row carries its
    TRUE exact jaccard; rows with ``jaccard >= threshold`` are the
    strictly-verified near-dup pair set — precision 1.0 by
    construction; the parameters trade only recall against signature
    cost. Rows below threshold appear only when ``star = true``:
    hot-bucket canonical links (see ``lsh_candidates``), emitted
    UNCONDITIONALLY as clustering seeds — otherwise two hot-bucket
    members that are near-dups of each other but not of the bucket
    canonical would silently fall out of every cluster. Downstream
    clustering should treat star edges as candidate edges and
    re-verify membership within the resulting components (filter
    ``jaccard >= threshold`` to recover the strictly-verified set).

    ``max_bucket_rows`` is the hot-bucket skew guard (see
    ``lsh_candidates``): band buckets beyond it link members to a
    canonical representative instead of forming all pairs, bounding
    candidate generation linearly in bucket size.
    """
    if not 0 < n_hashes <= len(_MINHASH_AB):
        raise ValueError(f"n_hashes must be in 1..{len(_MINHASH_AB)}")
    if n_hashes % rows_per_band:
        raise ValueError("rows_per_band must divide n_hashes")
    # shingle arrays feed both the signature agg (via explode) and the
    # verify step directly — one checkpointed materialization, no
    # collect_set rebuild (at scale this is the layer you'd write to
    # parquet between pipeline stages); parameters validated FIRST so
    # a bad call never launches the (eager) shingle job
    sh = shingle_arrays(docs).transform(_ckpt)
    # The band table has exactly ONE consumer (lsh_candidates' bucket
    # aggregation), so it stays lazy: signature agg → band explode →
    # bucket agg → in-row pair expansion → verify all fuse into a
    # single job. (Earlier rounds checkpointed it for a skew-probe job
    # plus a two-sided self-join — three consumers — since collapsed
    # into the one-aggregation candidate formulation.)
    exploded = minhash_band_table(sh, n_hashes=n_hashes, rows_per_band=rows_per_band)
    candidates = lsh_candidates(exploded, max_bucket_rows=max_bucket_rows)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        # star links bypass the threshold: they are cluster seeds with
        # their true jaccard attached (see docstring)
        .filter((jac >= threshold) | F.col("star"))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"), "star")
    )


@register(
    "q_dedup_minhash_lsh",
    oracle=None,  # banding/bucketing is not SQL-expressible; verified by
    # tests/test_dedup.py against the exact-Jaccard oracle query, and the
    # derived twin q_dedup_lsh_recall certifies recall externally
    doc="MinHash-LSH near-dup, the 100 TB path: per-doc 64-hash "
    "signature (one JVM projection, zero shuffle) → 32 bands of r=2 → "
    "explode (band, band_hash) → ONE bucket aggregation with in-row "
    "pair expansion for candidates → exact-Jaccard verify at 0.5. "
    "Candidate cost is bounded by bucket sizes; the all-pairs product "
    "never forms, and buckets beyond max_bucket_rows=64 degrade to "
    "star-links on the bucket canonical (linear; emitted with "
    "star=true and EXEMPT from the threshold so hot-bucket members "
    "stay cluster-reachable even when below threshold vs the "
    "canonical — tests/test_dedup.py skew-stresses this). "
    "P(miss | j=0.5) ~ 1e-4. "
    "(n_hashes, rows_per_band) are exposed on minhash_lsh_pairs — the "
    "32-hash/16-band half-cost point trades to P(miss) ~ 1e-2; the "
    "catalog keeps 64 so the recall bound stays assert-tight, see "
    "BASELINE.md.",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "q_dedup_lsh_recall",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    df AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 100),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM ex a JOIN df USING (s) JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    exact AS (
      SELECT doc_a, doc_b FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(*) AS BIGINT) AS n_lsh_verified,
           CAST(0 AS BIGINT) AS n_missed,
           ROUND(1.0, 6) AS recall
    FROM exact
    """,
    doc="Derived oracle-paired twin of q_dedup_minhash_lsh (whose "
    "banded pair generation is not SQL-expressible): measures LSH "
    "recall against the exact inverted-index Jaccard pair set at the "
    "0.5 verify threshold and emits (n_exact, n_lsh_verified, "
    "n_missed, recall). The oracle recomputes n_exact exactly and "
    "claims zero misses / recall 1.0 — sound to certify externally "
    "because r=2/b=32 banding puts P(miss | j=0.5) at ~1e-4 per pair "
    "and minhash is deterministic (fixed seed), so on a given corpus "
    "the row either always matches or the banding is miswired. "
    "n_lsh_verified counts the INTERSECTION with the exact set "
    "(n_exact - n_missed structurally): the two sides use different "
    "candidate generators — the exact query's df<=100 stop-shingle "
    "cap can omit a pair whose every shared shingle is hot while LSH "
    "still finds it — so LSH-only extras are recall-irrelevant and "
    "deliberately excluded rather than reddening the row. A corpus "
    "with no exact pairs reports recall 1.0 (vacuous, not NULL).",
)
def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact = (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
        .persist()  # consumed by two aggregates below; persist defers
        # ALL planning to the single action (lazy localCheckpoint would
        # physically plan the subtree at build time — see
        # q_dedup_ann_recall's reconciliation note)
    )
    lsh = (
        minhash_lsh_pairs(docs)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
        .persist()
    )
    missed = exact.join(lsh, ["doc_a", "doc_b"], "left_anti")
    hit = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_lsh_verified")))
        .crossJoin(missed.agg(F.count(F.lit(1)).alias("n_missed")))
        .select(
            "n_exact",
            "n_lsh_verified",
            "n_missed",
            F.when(F.col("n_exact") == 0, F.lit(1.0))
            .otherwise(
                F.round(F.lit(1.0) - F.col("n_missed") / F.col("n_exact"), 6)
            )
            .alias("recall"),
        )
    )


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    df AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 100),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM ex a JOIN df USING (s) JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(inter * 1.0 / sa.n, 6) AS containment
    FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
    WHERE inter * 1.0 / sa.n >= 0.8
    """,
    doc="Asymmetric containment |A∩B| / |A| over trigram shingles — "
    "catches doc-in-doc duplication (a paragraph pasted into a larger "
    "page) that symmetric Jaccard dilutes below threshold. Same "
    "inverted-index + df<=100 stop-shingle bound as q_dedup_ngram_"
    "jaccard, but DIRECTED pairs: (a contained-in b) and (b "
    "contained-in a) score independently.",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_arrays(docs).transform(_ckpt)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    df_ok = ex.groupBy("s").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") <= 100).select("s")
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(df_ok, "s")
        .join(b, "s")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.filter(F.size("shingles") > 0).select(
        F.col("doc_id").alias("doc_a"), F.size("shingles").alias("n")
    )
    cont = F.col("inter") / F.col("n")
    return (
        pairs.join(sizes, "doc_a")
        .filter(cont >= 0.8)
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
    )


# ---------------------------------------------------------------- SimHash


@register(
    "q_dedup_simhash",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS words FROM documents)
    SELECT doc_id,
           list_sum(list_transform(range(60), j ->
             CASE WHEN list_sum(list_transform(words, t ->
                    CASE WHEN (({_SQL_HASH60.format(w='t')}) >> j) & 1 = 1
                         THEN 1 ELSE -1 END)) > 0
                  THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS simhash
    FROM w
    """,
    doc="60-bit SimHash fingerprint: per-bit sign of the sum of "
    "word-hash bits (frequency-weighted). One projection per row, no "
    "shuffle; near-dup candidates at scale come from banding the "
    "fingerprint (same LSH machinery as minhash). md5-prefix word hash "
    "for cross-engine parity; swap xxhash64 in production.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # explode → hash each word ONCE → 60 conditional sums in one
    # groupBy (single shuffle, partial aggregation map-side: the same
    # plan shape as any wide agg — scales linearly in corpus size).
    ex = docs.select("doc_id", F.explode(_words()).alias("t")).select(
        "doc_id", _hash60(F.col("t")).alias("h")
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(60)
    ]
    sums = ex.groupBy("doc_id").agg(*bit_aggs)
    simhash = None
    for j in range(60):
        term = (
            F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
        )
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.alias("simhash"))


# ---------------------------------------------------------------- embedding cosine near-dup


@register(
    "q_dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
    doc="Embedding-space near-dup pairs (cosine >= 0.4), brute-force "
    "formulation as the correctness baseline. The scale path is the "
    "LSH-bucketed variant in similarity_queries (same verify step, "
    "candidates from hyperplane buckets instead of the cross product).",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    v = v.withColumn("norm", norm)
    # embeddings.parquet is a single file → a single input split: without
    # this, the streamed side of the nested-loop join below is ONE
    # partition and the whole O(n^2) cosine verify runs on one core.
    # One cheap shuffle of n rows spreads the n^2 work across the
    # cluster; the broadcast side stays un-shuffled.
    a = v.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= 0.4)
        .select("vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine"))
    )


_EMB_ANN_BITS = 4  # coarser buckets than the similarity ANN (6 bits):
# the dedup verify threshold (cosine 0.4) sits close to random
# (p_bit(0.4)=0.63 vs p_bit(0)=0.5), so per-table collision must be
# high — 0.63^4≈0.16/table, 16 tables → ≈6% worst-case miss. At a
# production near-dup threshold (>=0.8, p_bit=0.80) 6-8 bits keeps
# buckets fine-grained AND recall >=0.99; bits is the dial.


@register(
    "q_dedup_embedding_ann",
    oracle=None,  # bucketed candidate generation is not SQL-expressible;
    # subset-exactness + recall vs the brute-force
    # q_dedup_embedding_cosine is asserted in tests/test_dedup.py
    doc="Embedding-space near-dup pairs (cosine >= 0.4), the SCALE "
    "formulation: random-hyperplane LSH buckets (16 tables x 4 bits, "
    "Arrow-vectorized signatures — one matmul per batch) generate "
    "candidates via a bucket self-join, then the exact cosine verify "
    "keeps pairs >= 0.4. Candidate cost is bucket-bounded — the "
    "all-pairs cross product of q_dedup_embedding_cosine never forms. "
    "Same output schema as the brute-force baseline.",
)
def q_dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.similarity_queries import (
        _dot,
        _lsh_signatures,
        _norm,
        _vecd,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # single-file table → single split: spread the Arrow-batched
    # signature matmuls (and the per-vector norm) across cores before
    # the heavy per-row work, not after.
    base = (
        emb.repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", "embedding", _vecd().alias("v"))
        .withColumn("n", _norm("v"))
        .withColumn("sig", _lsh_signatures("embedding", bits=_EMB_ANN_BITS))
        .drop("embedding")
    )
    buckets = base.select("vec_id", F.posexplode("sig").alias("t", "bucket"))
    left = buckets.select(
        F.col("vec_id").alias("vec_a"), "t", "bucket"
    )
    cand = (
        left.join(buckets, ["t", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_id"))
        .select("vec_a", F.col("vec_id").alias("vec_b"))
        .distinct()
    )
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    cos = _dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= 0.4)
        .select("vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine"))
    )


@register(
    "q_dedup_ann_recall",
    oracle="""
    WITH exact AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS precision_exact,
           TRUE AS recall_ge_08
    FROM exact
    """,
    doc="Derived oracle-paired twin of q_dedup_embedding_ann (whose "
    "hyperplane bucketing is not SQL-expressible) — the last of the "
    "six rows-only queries to gain an externally-certified contract "
    "row: emits the exact >=0.4-cosine pair count (oracle-recomputed), "
    "a BOOLEAN that every ANN pair is a subset of the exact set "
    "(precision 1.0 — the verify step is exact cosine), and a BOOLEAN "
    "that pair recall clears the 0.8 floor tests/test_dedup.py "
    "asserts. Deterministic: seeded hyperplanes, so on a given corpus "
    "the row either always matches or the bucket plumbing broke.",
)
def q_dedup_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist(), not localCheckpoint(eager=False): each side feeds the
    # count + both joins, so it must be shared — but lazy localCheckpoint
    # still calls Dataset.localCheckpoint on the JVM, which physically
    # plans the whole subtree AT BUILD TIME (measured 6.3 s of driver
    # CPU for these two subplans at sf0.1 — the round-11 parity sweep's
    # "17.9 s" was ~10 s of this plan construction, not execution).
    # persist registers the cache point and defers all planning to the
    # single collect, where the first materialization fills it and the
    # other references read it back.
    exact = (
        q_dedup_embedding_cosine(spark, sf_dir)
        .select("vec_a", "vec_b")
        .persist()
    )
    ann = (
        q_dedup_embedding_ann(spark, sf_dir)
        .select("vec_a", "vec_b")
        .persist()
    )
    extras = ann.join(exact, ["vec_a", "vec_b"], "left_anti")
    hits = ann.join(exact, ["vec_a", "vec_b"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(extras.agg(F.count(F.lit(1)).alias("_n_extra")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .select(
            "n_exact",
            (F.col("_n_extra") == 0).alias("precision_exact"),
            F.when(F.col("n_exact") == 0, F.lit(True))
            .otherwise(F.col("_n_hit") / F.col("n_exact") >= F.lit(0.8))
            .alias("recall_ge_08"),
        )
    )


# ---------------------------------------------------------------- substring dedup

_SUB_L, _SUB_S = 40, 20  # window length / stride (chars)


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               range(CAST(ceil((length(text) - {_SUB_L} + 1) / {_SUB_S}.0) AS BIGINT)),
               i -> substring(text, CAST(i*{_SUB_S}+1 AS INT), {_SUB_L}))) AS w
      FROM documents WHERE length(text) >= {_SUB_L}),
    d AS (SELECT DISTINCT doc_id, w FROM g),
    n AS (SELECT doc_id, COUNT(*) AS n_windows FROM d GROUP BY doc_id),
    rep AS (SELECT w FROM d GROUP BY w HAVING COUNT(*) > 1),
    hit AS (SELECT doc_id, COUNT(*) AS n_repeated FROM d JOIN rep USING (w)
            GROUP BY doc_id)
    SELECT hit.doc_id, CAST(n_repeated AS BIGINT) AS n_repeated,
           CAST(n_windows AS BIGINT) AS n_windows,
           ROUND(n_repeated * 1.0 / n_windows, 6) AS repeat_frac
    FROM hit JOIN n USING (doc_id)
    """,
    doc="Character-level duplicated-substring detection (the signal "
    "behind suffix-array substring dedup, Lee et al. 2022 "
    "'Deduplicating Training Data Makes Language Models Better', "
    "public method — approximated Spark-first with fixed strided "
    "windows instead of a suffix array): 40-char windows at stride "
    "20, a window counts as repeated when the identical span occurs "
    "in more than one document, and each flagged doc reports its "
    "repeated-window count and fraction (the span-removal candidate "
    "list). Scale shape: one explode + distinct, one inverted-index "
    "aggregate keyed on the window string, one join back — all "
    "linear in total windows; the window strings never self-join "
    "all-pairs. The word-level twins (ngram_jaccard, minhash) catch "
    "reworded near-dups; this catches verbatim boilerplate spans "
    "inside otherwise-distinct docs.",
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same single-split spread as substring_fingerprints: the window
    # transform multiplies rows before the first shuffle
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= _SUB_L)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    wins = F.transform(
        F.sequence(
            F.lit(0),
            F.ceil((F.length("text") - _SUB_L + 1) / F.lit(float(_SUB_S))).cast(
                "bigint"
            )
            - 1,
        ),
        lambda i: F.substring(
            F.col("text"), (i * _SUB_S + 1).cast("int"), _SUB_L
        ),
    )
    d = (
        docs.select("doc_id", F.explode(wins).alias("w"))
        .distinct()
        .transform(_ckpt_lazy)  # feeds per-doc totals + the repeat index
    )
    n = d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    rep = d.groupBy("w").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
    hit = (
        d.join(rep.select("w"), "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_repeated"))
    )
    return hit.join(n, "doc_id").select(
        "doc_id",
        "n_repeated",
        "n_windows",
        F.round(F.col("n_repeated") / F.col("n_windows"), 6).alias("repeat_frac"),
    )


def substring_fingerprints(docs: DataFrame) -> DataFrame:
    """``(doc_id, h1, h2)`` — two independent 64-bit fingerprints of
    EVERY character offset's ``_SUB_L``-gram, built in one codegen'd
    projection (explode + substr + xxhash64 x2); the 40x payload
    blow-up exists only transiently in the row pipeline and anything
    shuffled downstream is 16 bytes + doc_id per row. Exposed so this
    stage — the heaviest shuffle-per-byte feed in the repo — can be
    counted as its own phase: exactly one row per character offset.

    Spreads the input first: the explode multiplies rows ~|text|x
    BEFORE the first shuffle, so a few-split input (the single-file
    test tables; any filter that collapses splits) would otherwise
    hash serially."""
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.length("text") - _SUB_L)).alias("p"),
        "text",
    ).select(
        "doc_id",
        F.col("text").substr(F.col("p") + 1, F.lit(_SUB_L)).alias("w"),
    ).select(
        "doc_id",
        F.xxhash64("w").alias("h1"),
        F.xxhash64(F.lit(1), F.col("w")).alias("h2"),
    )


def repeated_fingerprints(g: DataFrame) -> DataFrame:
    """Fingerprints present in more than one document — the ONE
    16-byte-key shuffle of the exact-substring path."""
    return (
        g.groupBy("h1", "h2")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h1", "h2")
    )


@register(
    "q_dedup_substring_exact",
    oracle=f"""
    -- Ground truth by ACTUAL substring equality: every char offset's
    -- {_SUB_L}-gram, repeated = present in more than one document.
    WITH docs AS (SELECT doc_id, text FROM documents
                  WHERE length(text) >= {_SUB_L}),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(length(text) - {_SUB_L} + 1),
                   i -> substring(text, CAST(i + 1 AS INT), {_SUB_L}))) AS w
          FROM docs),
    rep AS (SELECT w FROM g GROUP BY w HAVING COUNT(DISTINCT doc_id) > 1),
    hit AS (SELECT doc_id, COUNT(*) AS n_dup FROM g JOIN rep USING (w)
            GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(hit.n_dup, 0) AS BIGINT) AS n_dup_pos,
           CAST(length(d.text) - {_SUB_L} + 1 AS BIGINT) AS n_pos,
           ROUND(COALESCE(hit.n_dup, 0) * 1.0 /
                 (length(d.text) - {_SUB_L} + 1), 6) AS dup_frac
    FROM docs d LEFT JOIN hit USING (doc_id)
    """,
    doc="EXACT duplicated-substring detection (Lee et al. 2022's "
    "suffix-array signal, round 9 — closes the strided variant's "
    "documented miss): EVERY character offset's 40-gram is "
    "fingerprinted, so a duplicated span can no longer hide by "
    "straddling the stride. Spark-first formulation: instead of the "
    "paper's suffix array (or its distributed rank-doubling suffix "
    "sort — log L shuffle rounds of (pos, rank, rank) triples), each "
    "position's gram is hashed IN-PROJECTION (Column.substr + two "
    "independent xxhash64s inside one codegen'd stage), so the 40x "
    "payload blow-up exists only transiently in the row pipeline and "
    "the ONE shuffle carries 16-byte fingerprints — strictly less "
    "shuffle volume than any rank-doubling round structure, which is "
    "why the suffix sort was evaluated and rejected for this engine. "
    "128-bit fingerprints make a false-positive collision ~2^-128*n^2 "
    "(the same exactness standard as sha256 q_dedup_exact); the "
    "DuckDB oracle uses ACTUAL substring equality, so even a single "
    "collision would fail the value hash. Scale: shuffle is "
    "O(corpus_chars * 16B) — at 100 TB text that is the honest cost "
    "of exact char-level dedup and it partitions perfectly by "
    "fingerprint; the strided variant (q_dedup_substring) remains the "
    "20x-cheaper screening pass, its miss rate now MEASURED by "
    "q_dedup_substring_recall.",
)
def q_dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= _SUB_L)
    g = substring_fingerprints(docs)
    rep = repeated_fingerprints(g)
    hit = g.join(rep, ["h1", "h2"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup")
    )
    base = docs.select(
        "doc_id", (F.length("text") - _SUB_L + 1).cast("bigint").alias("n_pos")
    )
    return base.join(hit, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup_pos"),
        "n_pos",
        F.round(F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_pos"), 6).alias(
            "dup_frac"
        ),
    )


@register(
    "q_dedup_substring_remove",
    oracle=f"""
    -- Span-level removal ground truth by ACTUAL substring equality:
    -- delete every char covered by a cross-document-repeated
    -- {_SUB_L}-gram (overlapping hits merged into maximal spans),
    -- then hash the surviving text. The sentinel interval at
    -- (len, len) makes the trailing kept segment fall out of the
    -- same lag() construction as every other segment.
    WITH docs AS (SELECT doc_id, text FROM documents
                  WHERE length(text) >= {_SUB_L}),
    g AS (SELECT doc_id, s.p AS p, s.w AS w FROM (
        SELECT doc_id, unnest(list_transform(range(length(text) - {_SUB_L} + 1),
            i -> {{'p': i, 'w': substring(text, CAST(i + 1 AS INT), {_SUB_L})}})) AS s
        FROM docs)),
    rep AS (SELECT w FROM g GROUP BY w HAVING COUNT(DISTINCT doc_id) > 1),
    hp AS (SELECT doc_id, p FROM g JOIN rep USING (w)),
    iv AS (SELECT doc_id, p,
               MAX(p + {_SUB_L}) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM hp),
    grp AS (SELECT doc_id, p,
                SUM(CASE WHEN pmax IS NULL OR p >= pmax THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY p) AS gid
            FROM iv),
    merged AS (SELECT doc_id, MIN(p) AS s, MAX(p) + {_SUB_L} AS e
               FROM grp GROUP BY doc_id, gid),
    allv AS (SELECT doc_id, s, e FROM merged
             UNION ALL
             SELECT doc_id, length(text), length(text) FROM docs),
    seg AS (SELECT a.doc_id, a.s,
                substring(d.text,
                    COALESCE(LAG(a.e) OVER (PARTITION BY a.doc_id ORDER BY a.s),
                             0) + 1,
                    a.s - COALESCE(LAG(a.e) OVER (PARTITION BY a.doc_id
                                                  ORDER BY a.s), 0)) AS piece
            FROM allv a JOIN docs d USING (doc_id)),
    cl AS (SELECT doc_id, string_agg(piece, '' ORDER BY s) AS ctext
           FROM seg GROUP BY doc_id),
    ns AS (SELECT doc_id, COUNT(*) AS cnt FROM merged GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(ns.cnt, 0) AS BIGINT) AS n_spans,
           CAST(length(d.text) - length(cl.ctext) AS BIGINT) AS removed_chars,
           CAST(length(cl.ctext) AS BIGINT) AS cleaned_len,
           sha256(cl.ctext) AS cleaned_sha
    FROM docs d JOIN cl USING (doc_id) LEFT JOIN ns USING (doc_id)
    """,
    doc="Duplicated-SPAN REMOVAL (round 10 — completes the Lee et al. "
    "2022 story: q_dedup_substring_exact DETECTS repeated spans, this "
    "operator DELETES them, which is what the paper actually does to "
    "training corpora): every char offset covered by a cross-document-"
    "repeated 40-gram is cut, with overlapping hits merged into "
    "maximal spans first. Spark-first shape: the gram/fingerprint "
    "stage is the same one 16-byte shuffle as the exact detector; "
    "interval merge is the classic running-max window (new span iff "
    "p >= max prior end), one exchange per doc partition; surviving "
    "segments are rebuilt by a lag()-windowed substring (a sentinel "
    "interval at text end makes the trailing segment uniform) and "
    "stitched with a sorted-struct array_join — all JVM-side, no "
    "Python, no per-char rows beyond the transient gram pipeline. "
    "Output is integers + the sha256 of each cleaned text, so the "
    "DuckDB oracle — which re-derives removal from ACTUAL substring "
    "equality, not hashes — certifies the merge arithmetic and the "
    "reconstruction byte-for-byte. Scale: identical cost profile to "
    "the exact detector plus one window over hit positions (|hits| "
    "<< corpus chars) and one window over spans; text payloads "
    "shuffle once, by doc_id, for the rebuild.",
)
def q_dedup_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    L = _SUB_L
    # single-file table → single split: the every-position explode
    # multiplies rows ~|text|x before the first shuffle, so without
    # this the whole window+hash stage runs on one core
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= L)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    g = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.length("text") - L)).alias("p"),
        "text",
    ).select(
        "doc_id", "p", F.col("text").substr(F.col("p") + 1, F.lit(L)).alias("w")
    ).select(
        "doc_id",
        "p",
        F.xxhash64("w").alias("h1"),
        F.xxhash64(F.lit(1), F.col("w")).alias("h2"),
    )
    hp = g.join(repeated_fingerprints(g), ["h1", "h2"], "left_semi").select(
        "doc_id", "p"
    )
    wp = Window.partitionBy("doc_id").orderBy("p")
    pmax = F.max(F.col("p") + L).over(
        wp.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        hp.withColumn(
            "f", F.when(pmax.isNull() | (F.col("p") >= pmax), 1).otherwise(0)
        )
        .withColumn("gid", F.sum("f").over(wp))
        .groupBy("doc_id", "gid")
        .agg(F.min("p").alias("s"), (F.max("p") + L).alias("e"))
        .select("doc_id", "s", "e")
        .transform(_ckpt_lazy)  # consumed by segments AND span counts
    )
    sent = docs.select(
        "doc_id", F.length("text").alias("s"), F.length("text").alias("e")
    )
    wv = Window.partitionBy("doc_id").orderBy("s")
    lag_e = F.coalesce(F.lag("e").over(wv), F.lit(0))
    seg = (
        merged.unionByName(sent)
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("piece", F.col("text").substr(lag_e + 1, F.col("s") - lag_e))
    )
    cl = seg.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "piece"))),
                lambda x: x["piece"],
            ),
            "",
        ).alias("ctext")
    )
    nsp = merged.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        docs.join(cl, "doc_id")
        .join(nsp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("n_spans"),
            (F.length("text") - F.length("ctext")).cast("bigint").alias(
                "removed_chars"
            ),
            F.length("ctext").cast("bigint").alias("cleaned_len"),
            F.sha2("ctext", 256).alias("cleaned_sha"),
        )
    )


@register(
    "q_dedup_substring_recall",
    oracle=f"""
    -- Strided-vs-exact doc-level recall. The strided set is a subset
    -- of the exact set by construction (an on-stride repeated window
    -- IS a repeated offset), so recall = strided/exact.
    WITH docs AS (SELECT doc_id, text FROM documents
                  WHERE length(text) >= {_SUB_L}),
    ge AS (SELECT doc_id,
                  unnest(list_transform(range(length(text) - {_SUB_L} + 1),
                    i -> substring(text, CAST(i + 1 AS INT), {_SUB_L}))) AS w
           FROM docs),
    e AS (SELECT DISTINCT doc_id FROM ge
          JOIN (SELECT w FROM ge GROUP BY w
                HAVING COUNT(DISTINCT doc_id) > 1) rep USING (w)),
    gs AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(
                    range(CAST(ceil((length(text) - {_SUB_L} + 1) / {_SUB_S}.0) AS BIGINT)),
                    i -> substring(text, CAST(i*{_SUB_S}+1 AS INT), {_SUB_L}))) AS w
           FROM docs),
    s AS (SELECT DISTINCT doc_id FROM gs
          JOIN (SELECT w FROM gs GROUP BY w HAVING COUNT(*) > 1) rep USING (w))
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_docs_exact,
           CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_docs_strided,
           CAST((SELECT COUNT(*) FROM e
                 WHERE doc_id NOT IN (SELECT doc_id FROM s)) AS BIGINT)
             AS n_docs_missed,
           ROUND((SELECT COUNT(*) FROM s) * 1.0 /
                 NULLIF((SELECT COUNT(*) FROM e), 0), 6) AS doc_recall
    """,
    doc="The derived twin the round-8 verdict asked for: MEASURES what "
    "the 40-char stride-20 screening pass (q_dedup_substring) misses "
    "against the exact every-offset formulation "
    "(q_dedup_substring_exact) — the LSH-recall-twin pattern applied "
    "to substring dedup. Doc-level: a doc is flagged-exact if any "
    "offset's 40-gram recurs in another doc, flagged-strided if an "
    "on-stride window recurs as an on-stride window elsewhere; "
    "strided is a strict subset, so one oracle-checked row "
    "(n_exact, n_strided, n_missed, recall) quantifies the stride's "
    "miss rate. Both sides are computed in ONE plan — the exact leg's "
    "fingerprint aggregation and the strided leg's window index share "
    "the documents scan.",
)
def q_dedup_substring_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= _SUB_L)

    ge = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.length("text") - _SUB_L)).alias("p"),
        "text",
    ).select(
        "doc_id",
        F.xxhash64(F.col("text").substr(F.col("p") + 1, F.lit(_SUB_L))).alias("h1"),
        F.xxhash64(
            F.lit(1), F.col("text").substr(F.col("p") + 1, F.lit(_SUB_L))
        ).alias("h2"),
    )
    e = (
        ge.join(
            ge.groupBy("h1", "h2")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") > 1)
            .select("h1", "h2"),
            ["h1", "h2"],
        )
        .select("doc_id")
        .distinct()
    )

    wins = F.transform(
        F.sequence(
            F.lit(0),
            F.ceil((F.length("text") - _SUB_L + 1) / F.lit(float(_SUB_S))).cast(
                "bigint"
            )
            - 1,
        ),
        lambda i: F.substring(F.col("text"), (i * _SUB_S + 1).cast("int"), _SUB_L),
    )
    gs = docs.select("doc_id", F.explode(wins).alias("w")).distinct()
    s = (
        gs.join(
            gs.groupBy("w").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
            .select("w"),
            "w",
        )
        .select("doc_id")
        .distinct()
    )

    both = e.withColumn("in_e", F.lit(1)).join(
        s.withColumn("in_s", F.lit(1)), "doc_id", "left"
    )
    return both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_exact"),
        F.sum(F.coalesce(F.col("in_s"), F.lit(0))).cast("bigint").alias(
            "n_docs_strided"
        ),
        F.sum(F.when(F.col("in_s").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_missed"),
        F.round(
            F.sum(F.coalesce(F.col("in_s"), F.lit(0)))
            / F.nullif(F.count(F.lit(1)), F.lit(0)),
            6,
        ).alias("doc_recall"),
    )


# ---------------------------------------------------------------- semantic dedup (SemDeDup)

_SEMANTIC_TAU = 0.4


@register(
    "q_dedup_semantic",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings),
    cent AS (
      SELECT cell, list(avg ORDER BY pos) AS cv FROM (
        SELECT label AS cell, pos, ROUND(AVG(x), 9) AS avg
        FROM ex GROUP BY label, pos)
      GROUP BY cell),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) DESC,
                          c.cell) AS rn
        FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE ROUND(list_cosine_similarity(ea.embedding::DOUBLE[],
                                         eb.embedding::DOUBLE[]), 6) >= {_SEMANTIC_TAU})
    SELECT s.vec_id, s.cell,
           CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
    """,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, public "
    "method): cluster embeddings (here the deterministic label-mean "
    "centroid assignment shared with q_similarity_ivf_assign; at "
    "production scale, kmeans_centroids with k ~ corpus/cell_target), "
    "then drop any vector with a LOWER-ID in-cell neighbour at cosine "
    ">= tau. The pairwise scan is keyed on the cell — candidate cost "
    "is sum(cell_size^2), never the corpus cross product, and the "
    "keep rule needs no transitive closure (single pass, no driver "
    "iteration). Output keeps every row with a keep flag so the "
    "decision itself is oracle-audited, not just the survivor set.",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.similarity_queries import (
        _cell_pairs_np,
        _cell_scores_np,
        _label_centroids,
        _norm,
        _vecd,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", _vecd().alias("v")).withColumn("n", _norm("v"))
    # GEMM assignment (round 16: the x100 stress found the final
    # assign still on the interpreted crossJoin twin — label-cell
    # count grows with the corpus, so N x CELLS expression eval is
    # quadratic in factor; _cell_scores_np is value-identical)
    assign = _cell_scores_np(base, _label_centroids(emb), argmax=True).select("vec_id", "cell")
    withv = assign.join(base, "vec_id")
    # in-cell pairwise cosines as a per-cell blockwise GEMM (round 16
    # — the pairwise twin of the assignment GEMM; value-identical,
    # sub-threshold pairs never materialize as rows)
    dropped = (
        _cell_pairs_np(withv, _SEMANTIC_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return assign.join(
        dropped.withColumn("hit", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        F.when(F.col("hit").isNull(), 1).otherwise(0).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------- near-dup clusters


def connected_components(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components by min-label propagation: every vertex
    repeatedly adopts the smallest label among itself and its
    neighbours — graph.py's :func:`_min_label_fixpoint` over the
    symmetrized edges, so after its one-hop prefix pointer jumping
    cuts a deep component's O(diameter) rounds to O(log diameter)
    (near-dup clusters are shallow and converge inside the prefix).

    Input: ``(s, d)`` undirected edge rows. Output: ``(v, cluster_id)``
    with cluster_id = min vertex id in the component. Every round is
    truncated by the helper, so ``reliable_checkpoints(...)`` reaches
    this loop like every other graph loop.
    """
    s, d = F.col("s").cast("bigint"), F.col("d").cast("bigint")
    sym = (
        edges.select(s.alias("src"), d.alias("dst"))
        .unionByName(edges.select(d.alias("src"), s.alias("dst")))
        .distinct()
        .persist()
    )
    labels0 = (
        sym.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("k"), F.col("v").alias("p"))
        .transform(_ckpt)
    )
    labels, _used, converged = _min_label_fixpoint(
        sym, labels0, F.col("k") < F.col("k_old"), max_iters, "cc"
    )
    if not converged:
        # Same loud-truncation contract as graph.bfs: an unconverged
        # labeling silently merges/splits clusters — callers must hear it.
        logger.warning(
            "connected_components: max_iters=%d exhausted before the "
            "label fixed point; cluster ids may split one true component",
            max_iters,
        )
    sym.unpersist()
    return labels.select("v", F.col("k").alias("cluster_id"))


# The transitive closure of the jaccard>=0.3 pair graph as a
# UNION-deduped recursive CTE: an independent SQL statement of the
# labels min-label propagation computes.
_CLUSTERS_ORACLE = """
    WITH RECURSIVE sh AS (
      SELECT doc_id, CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        list_distinct(list_transform(range(len(string_split(text, ' ')) - 2),
          i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
               || ' ' || string_split(text, ' ')[i+3]))
      ELSE [] END AS shingles FROM documents),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    dfc AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 100),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM ex a JOIN dfc USING (s) JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b FROM p
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.3),
    e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    walk(v, r) AS (
      SELECT s, s FROM e
      UNION
      SELECT e.d, walk.r FROM walk JOIN e ON e.s = walk.v)
    SELECT CAST(v AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
    FROM walk GROUP BY v
    """


@register(
    "q_dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="Near-dup clusters: jaccard>=0.3 pairs -> connected components "
    "(min-label propagation with pointer jumping after 8 one-hop "
    "rounds, O(log diameter) rounds, one driver action per round) -> "
    "cluster_id = min doc in component (the canonical keeper). Oracle "
    "= transitive closure as a UNION-deduped recursive CTE. The pair "
    "graph is tiny relative to the corpus, so clustering cost is "
    "negligible next to candidate generation.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    )
    return connected_components(pairs).select(
        F.col("v").alias("doc_id"), "cluster_id"
    )


@register(
    "q_dedup_normalized",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
      FROM documents)
    SELECT norm_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM norm GROUP BY norm_hash
    """,
    doc="Normalized exact dedup: canonicalize before hashing (lowercase "
    "-> strip non-alphanumerics -> collapse whitespace -> trim) so "
    "case/punctuation/spacing variants of the same content collapse to "
    "one group. Same one-shuffle plan as q_dedup_exact; the "
    "normalization is the piece production pipelines actually tune.",
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return (
        docs.select(F.md5(norm).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------------- incremental compaction

_COMPACT_MB = 2  # hotness threshold for THIS query — deliberately far
# below the production default (64) so the sf0.01/sf0.1 corpora
# actually produce hot buckets to compact; the machinery under test is
# threshold-independent.


@register(
    "q_dedup_lsh_compaction",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents)
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_store_docs,
           TRUE AS matches_batch_star,
           TRUE AS compaction_idempotent
    FROM sh WHERE len(shingles) > 0
    """,
    doc="Signature-store compaction end-to-end (the round-7 stretch; "
    "dedup_incremental.py): documents are ingested as THREE doc_id-"
    "range batches through the replay-safe incremental LSH store, "
    "then compact_store recomputes the minimal hot-bucket star edge "
    "set from current full membership (one count+min aggregation "
    "over the band store, hot keys broadcast back). Certified "
    "invariants: (a) n_store_docs — the store holds exactly the "
    "shingleable corpus after K appends, SQL-recomputed by the "
    "oracle; (b) matches_batch_star — the compacted star set equals, "
    "pair for pair, the star links a SINGLE-SHOT batch LSH run over "
    "the full corpus emits (an independent code path: the in-row "
    "bucket pair expansion of lsh_candidates vs compaction's "
    "aggregate+join), engine-checked via two anti-joins; (c) "
    "compaction_idempotent — a second compaction returns the "
    "identical frame. Bucket membership itself is minhash-derived and "
    "therefore not SQL-expressible (same boundary as "
    "q_dedup_minhash_lsh); the booleans carry the cross-path "
    "equivalence, the counts anchor the hash in SQL-recomputed "
    "ground truth.",
)
def q_dedup_lsh_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from bfs_mapreduce_spark.operators.dedup_incremental import (
        compact_store,
        ingest_batch,
        init_store,
    )
    from bfs_mapreduce_spark.tmputil import proc_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    store = os.path.join(proc_dir("bfs_mapreduce_spark_lshstore"), tag)
    shutil.rmtree(store, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    b1, b2 = hi // 3, (2 * hi) // 3
    init_store(spark, docs.filter(F.col("doc_id") <= b1), store)
    ingest_batch(
        spark,
        docs.filter((F.col("doc_id") > b1) & (F.col("doc_id") <= b2)),
        store,
        max_bucket_rows=_COMPACT_MB,
    )
    ingest_batch(
        spark, docs.filter(F.col("doc_id") > b2), store, max_bucket_rows=_COMPACT_MB
    )

    links = compact_store(spark, store, max_bucket_rows=_COMPACT_MB)
    links2 = compact_store(spark, store, max_bucket_rows=_COMPACT_MB)

    batch_star = (
        minhash_lsh_pairs(docs, max_bucket_rows=_COMPACT_MB)
        .filter(F.col("star"))
        .select("doc_a", "doc_b")
        .persist()  # shared by three set-difference joins below
    )
    extra = links.join(batch_star, ["doc_a", "doc_b"], "left_anti")
    missing = batch_star.join(links, ["doc_a", "doc_b"], "left_anti")
    drift = links.join(links2, ["doc_a", "doc_b"], "left_anti").unionByName(
        links2.join(links, ["doc_a", "doc_b"], "left_anti")
    )
    n_store = spark.read.parquet(f"{store}/shingles").count()
    n_docs = docs.count()
    return (
        extra.agg(F.count(F.lit(1)).alias("_extra"))
        .crossJoin(missing.agg(F.count(F.lit(1)).alias("_missing")))
        .crossJoin(drift.agg(F.count(F.lit(1)).alias("_drift")))
        .select(
            F.lit(n_docs).cast("bigint").alias("n_docs"),
            F.lit(n_store).cast("bigint").alias("n_store_docs"),
            ((F.col("_extra") == 0) & (F.col("_missing") == 0)).alias(
                "matches_batch_star"
            ),
            (F.col("_drift") == 0).alias("compaction_idempotent"),
        )
    )


@register(
    "q_dedup_semantic_compaction",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vecs,
           CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_store_vecs,
           CAST((SELECT COUNT(DISTINCT label) FROM embeddings
                 WHERE vec_id <= (SELECT MAX(vec_id) // 3 FROM embeddings))
                AS BIGINT) AS n_cells,
           TRUE AS matches_batch_keep,
           TRUE AS compaction_idempotent,
           TRUE AS files_compacted
    """,
    doc="Semantic/ANN store compaction end-to-end (round 9 — the "
    "embedding half of q_dedup_lsh_compaction, the round-8 stretch): "
    "embeddings are ingested as THREE vec_id-range batches through "
    "the replay-safe incremental semantic store (frozen quantizer "
    "from the init batch, cell-partitioned vectors), then "
    "compact_semantic_store recomputes the canonical keep set from "
    "CURRENT full membership (dropped iff a lower-id in-cell partner "
    "at cosine >= tau — the exact q_dedup_semantic rule) and rewrites "
    "the fragmented cell partitions to one file each. Certified "
    "invariants: (a) n_store_vecs — the store holds exactly the "
    "corpus after K appends (replay safety included), SQL-anchored; "
    "(b) n_cells — the frozen quantizer is the init batch's label "
    "centroids, cell count SQL-recomputed from the init id range; "
    "(c) matches_batch_keep — the compacted keep set equals, vector "
    "for vector, a SINGLE-SHOT batch keep computation over the full "
    "corpus against the same frozen centroids (independent path: "
    "fresh max_by assignment + semantic_pairs vs the store's "
    "ingest-time assignments), engine-checked via two anti-joins; "
    "(d) compaction_idempotent — a second compaction returns the "
    "identical frame; (e) files_compacted — the rewrite strictly "
    "reduced the per-cell file count. Cell assignment is "
    "centroid-cosine-derived and not SQL-expressible here (the "
    "q_dedup_semantic oracle unrolls it at full-corpus centroids; "
    "this store's centroids are init-batch-frozen by design) — the "
    "booleans carry the cross-path equivalence, the counts anchor "
    "the hash in SQL-recomputed ground truth.",
)
def q_dedup_semantic_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil

    from bfs_mapreduce_spark.operators.dedup_incremental import (
        _sem_base,
        compact_semantic_store,
        ingest_semantic_batch,
        init_semantic_store,
        semantic_pairs,
    )
    from bfs_mapreduce_spark.operators.similarity_queries import (
        _cell_scores_np,
    )
    from bfs_mapreduce_spark.tmputil import proc_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    store = os.path.join(proc_dir("bfs_mapreduce_spark_semstore"), tag)
    shutil.rmtree(store, ignore_errors=True)
    emb = load_table(spark, sf_dir, "embeddings")
    hi = emb.agg(F.max("vec_id")).first()[0]
    b1, b2 = hi // 3, (2 * hi) // 3
    init_semantic_store(spark, emb.filter(F.col("vec_id") <= b1), store)
    ingest_semantic_batch(
        spark, emb.filter((F.col("vec_id") > b1) & (F.col("vec_id") <= b2)), store
    )
    ingest_semantic_batch(spark, emb.filter(F.col("vec_id") > b2), store)

    def n_files() -> int:
        return len(glob.glob(os.path.join(store, "vectors", "cell=*", "*.parquet")))

    files_before = n_files()
    keep = compact_semantic_store(spark, store)
    files_after = n_files()
    keep2 = compact_semantic_store(spark, store)

    # single-shot batch reference against the SAME frozen quantizer:
    # fresh assignment of the full corpus + the q_dedup_semantic keep
    # rule, never touching the store's ingest-time assignments
    cent = spark.read.parquet(f"{store}/centroids")
    base = _sem_base(emb)
    # GEMM assignment (round 16: the x100 stress found the final
    # assign still on the interpreted crossJoin twin — label-cell
    # count grows with the corpus, so N x CELLS expression eval is
    # quadratic in factor; _cell_scores_np is value-identical)
    assign = _cell_scores_np(base, cent, argmax=True).select("vec_id", "cell")
    dropped = (
        semantic_pairs(emb, cent)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    keep_ref = assign.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("_d").isNull(), 1).otherwise(0).alias("keep"),
    )

    cols = ["vec_id", "cell", "keep"]
    mismatch = keep.join(keep_ref, cols, "left_anti").unionByName(
        keep_ref.join(keep, cols, "left_anti")
    )
    drift = keep.join(keep2, cols, "left_anti").unionByName(
        keep2.join(keep, cols, "left_anti")
    )
    n_store = spark.read.parquet(f"{store}/vectors").count()
    n_vecs = emb.count()
    n_cells = cent.select("cell").distinct().count()
    return (
        mismatch.agg(F.count(F.lit(1)).alias("_mm"))
        .crossJoin(drift.agg(F.count(F.lit(1)).alias("_drift")))
        .select(
            F.lit(n_vecs).cast("bigint").alias("n_vecs"),
            F.lit(n_store).cast("bigint").alias("n_store_vecs"),
            F.lit(n_cells).cast("bigint").alias("n_cells"),
            (F.col("_mm") == 0).alias("matches_batch_keep"),
            (F.col("_drift") == 0).alias("compaction_idempotent"),
            F.lit(files_after < files_before).alias("files_compacted"),
        )
    )
