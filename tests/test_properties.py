"""Property tests cited by query docstrings:

- MinHash-LSH (queries/llm_dedup.py minhash_lsh_neardup): the certified
  query's output must EQUAL the exact n-gram Jaccard pair set — precision
  (every emitted pair truly ≥ threshold) and recall (LSH candidate
  generation misses no true pair on the fixture).
- sample_bernoulli (queries/projections.py): sampled fraction within a
  5-sigma binomial CI, seed determinism, and seed sensitivity.
- self_join_cohour_pairs (queries/joins.py): the closed-form C(n, 2) count
  must equal the literal bucket self-join it replaced, run in Spark.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from big_data__instagram_analysis_spark.io import load
from big_data__instagram_analysis_spark.operators.dedup import ngram_jaccard_pairs
from big_data__instagram_analysis_spark.registry import get_specs


# ---------------------------------------------------------------- MinHash-LSH


def _exact_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(d, n=3, threshold=0.5).collect()
    }


def test_minhash_lsh_matches_exact_jaccard_pairs(spark, sf_dir):
    """Recall AND precision vs exact ground truth: the certified LSH query
    must report exactly the pairs with true 3-gram Jaccard ≥ 0.5, with the
    exact (not estimated) Jaccard value per pair."""
    exact = _exact_pairs(spark, sf_dir)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in get_specs()["minhash_lsh_neardup"].fn(spark, sf_dir).collect()
    }
    missed = set(exact) - set(got)
    spurious = set(got) - set(exact)
    assert not missed, f"LSH recall gap — true pairs missed: {sorted(missed)[:10]}"
    assert not spurious, f"precision gap — pairs below threshold: {sorted(spurious)[:10]}"
    for pair, jac in exact.items():
        assert abs(got[pair] - jac) < 1e-9, (pair, got[pair], jac)
    assert len(exact) > 0, "fixture should contain at least one near-dup pair"


def test_minhash_lsh_pairs_all_above_threshold(spark, sf_dir):
    """Direct precision property (independent of ground-truth generation):
    recompute exact Jaccard per reported pair from raw shingle sets."""
    from big_data__instagram_analysis_spark.operators.dedup import token_shingles

    pairs = get_specs()["minhash_lsh_neardup"].fn(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select(
        "doc_id", token_shingles(F.col("text"), 3).alias("sh")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    below = joined.where(jac < 0.5).count()
    assert below == 0


# ------------------------------------------------------------ sample_bernoulli


def test_bernoulli_fraction_within_binomial_ci(spark, sf_dir):
    from big_data__instagram_analysis_spark.queries.projections import (
        _bernoulli_sample_rows,
    )

    fn = _bernoulli_sample_rows
    k = fn(spark, sf_dir).count()
    n = load(spark, sf_dir, "lineitem").count()
    frac = 0.1
    # 5-sigma window: never flakes, still catches an off-by-10× fraction
    # or a sampler applied after an unintended filter.
    sigma = math.sqrt(n * frac * (1 - frac))
    assert abs(k - n * frac) <= 5 * sigma + 1, (k, n * frac, sigma)


def test_bernoulli_seed_deterministic(spark, sf_dir):
    from big_data__instagram_analysis_spark.queries.projections import (
        _bernoulli_sample_rows,
    )

    fn = _bernoulli_sample_rows
    key = lambda r: (r["l_orderkey"], r["l_linenumber"])  # noqa: E731
    a = sorted(key(r) for r in fn(spark, sf_dir).collect())
    b = sorted(key(r) for r in fn(spark, sf_dir).collect())
    assert a == b and len(a) > 0


def test_bernoulli_seed_sensitivity(spark, sf_dir):
    """Different seeds draw different samples (astronomically certain for
    thousands of rows at fraction 0.1) — guards a sampler that ignores
    the seed and derives rows from row position alone."""
    li = load(spark, sf_dir, "lineitem")
    key = lambda r: (r["l_orderkey"], r["l_linenumber"])  # noqa: E731
    a = sorted(key(r) for r in li.sample(fraction=0.1, seed=42).collect())
    b = sorted(key(r) for r in li.sample(fraction=0.1, seed=43).collect())
    assert a != b


# ------------------------------------------------------------------- skyline


def test_skyline_window_matches_bruteforce_fuzz(spark):
    """Differential fuzz of the window-based 2-D skyline against the
    obviously-correct quadratic definition, biased toward ties (small
    value domains) — the spot where RANGE-frame peer semantics and the
    strict/non-strict domination split can silently go wrong."""
    import random

    from big_data__instagram_analysis_spark.queries.advanced import (
        mark_pareto_dominated,
    )

    rng = random.Random(7)
    for trial in range(8):
        n = rng.randint(1, 40)
        rows = [
            (i, rng.choice("AB"), rng.randint(0, 5), rng.randint(0, 5))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, grp string, price long, size long")
        got = {
            r["id"]
            for r in mark_pareto_dominated(
                df, group_col="grp", min_col="price", max_col="size"
            )
            .where(~F.col("dominated"))
            .collect()
        }
        want = {
            i
            for (i, g, p, s) in rows
            if not any(
                g2 == g and p2 <= p and s2 >= s and (p2 < p or s2 > s)
                for (i2, g2, p2, s2) in rows
                if i2 != i
            )
        }
        assert got == want, (trial, sorted(got ^ want), rows)


def test_subset_cap_predicate_matches_duckdb(spark, duck):
    """r9 scale-adaptive subset caps (llm_dedup.BRUTE_SUBSET_CAP /
    llm_similarity.HN_ANCHOR_CAP) rest on ONE invariant: the multiplicative-
    hash keep-predicate selects the IDENTICAL id set in both engines, and
    is vacuously true when n <= cap. Pin both on a 10k-id domain (above
    every base tier's 2000, so the predicate actually filters) and on a
    2000-id domain (must keep everything)."""
    from pyspark.sql import functions as F

    for n, cap in ((10_000, 2048), (2_000, 2048), (800, 80)):
        duck_ids = {
            r[0]
            for r in duck.execute(
                f"""SELECT i FROM range({n}) AS t(i)
                    WHERE ((i % 1000003) * 2654435761) % 100000 * {n}
                          < 100000 * {cap}"""
            ).fetchall()
        }
        bucket = ((F.col("id") % 1000003) * F.lit(2654435761)) % 100000
        spark_ids = {
            r.id
            for r in spark.range(n)
            .where(bucket * F.lit(n) < F.lit(100000 * cap))
            .collect()
        }
        assert spark_ids == duck_ids, (n, cap, len(spark_ids), len(duck_ids))
        if n <= cap:
            assert len(spark_ids) == n  # vacuous below the cap
        else:
            # binomial(n, cap/n): the subset tracks the cap within 4 sigma
            sigma = (n * (cap / n) * (1 - cap / n)) ** 0.5
            assert abs(len(spark_ids) - cap) < 4 * sigma


# ---------------------------------------------------- self_join_cohour_pairs


def test_cohour_pairs_closed_form_equals_spark_self_join(spark, sf_dir):
    """The registered query counts C(n, 2) pairs per (day, hour) bucket;
    the oracle keeps the literal self-join, but in DuckDB only. Build the
    self-join in Spark too, so Spark's self-join path stays exercised, and
    pin row equality with the closed form."""
    e = load(spark, sf_dir, "events")
    hourly = e.select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.hour("ts").cast("int").alias("h"),
        "user_id",
    ).distinct()
    a, b = hourly.alias("a"), hourly.alias("b")
    join_form = (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(F.col("a.d").alias("d"), F.col("a.h").alias("h"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    closed = get_specs()["self_join_cohour_pairs"].fn(spark, sf_dir)
    want = sorted(tuple(r) for r in join_form.collect())
    got = sorted(tuple(r) for r in closed.collect())
    assert want, "no co-hour pairs at this tier — vacuous check"
    assert got == want
