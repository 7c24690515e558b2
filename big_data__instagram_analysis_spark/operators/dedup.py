"""Deduplication operators for the LLM-data-pipeline extension
(SURVEY.md §2.10 L1/L2 + mandated dedup variants).

Cross-engine determinism: every hash that reaches checked output derives
from md5/sha2 (stable everywhere), never Spark's murmur3 ``hash()`` or
DuckDB's ``hash()`` (engine-specific).

Scale notes per operator are in each docstring; the common theme is that
candidate generation is always key-bucketed (hash group, LSH band, SimHash
band) so the pair space is per-bucket quadratic, never global quadratic.

Near-dup pair generation has exactly two cores: :func:`shared_shingle_pairs`
(the exact shared-shingle self-join) and :func:`minhash_lsh_pairs` (MinHash
banding + exact verify). The exact Jaccard / containment / ppm operators
here and the shared-shingle and MinHash pair queries in queries/llm_dedup.py
are projections over one of them.

Retention note (ADVICE r7): the shingle-sharing operators below use
``localCheckpoint(eager=False)`` frames that live in block-manager storage
until the DataFrame is garbage-collected driver-side. In a batch context
(one fresh session per run) that is the intended lifetime; a LONG-LIVED
service invoking these repeatedly
should drop references promptly (storage is reclaimed via the
ContextCleaner once the frame is unreachable) and accept that checkpoint
truncation makes the stage non-recomputable on executor loss — the
standard localCheckpoint trade, chosen here because the frames are
3×-reused within one query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: 60-bit SimHash (15 hex chars of md5) — fits signed int64, and 60 = 4
#: bands × 15 bits for the banded near-dup join.
SIMHASH_BITS = 60


#: Explicit whitespace class for text normalization, pinned on BOTH engines
#: (ADVICE r11): Java regex '\s' is exactly [ \t\n\x0B\f\r] while DuckDB's
#: RE2 '\s' EXCLUDES \x0B (vertical tab), so an implicit '\s+' on the two
#: sides hashes a \x0B-bearing text differently. The same spelling below is
#: valid Java regex AND RE2, so the engine expression and the SQL-literal
#: oracle twin collapse the identical set of characters.
WS_RE = r"[ \t\r\n\x0B\f]+"
#: The RE2/SQL-literal twin (DuckDB string literals pass backslashes through).
WS_RE_SQL = WS_RE
#: Spark-SQL-expression twin: the SQL parser unescapes string literals once,
#: so backslashes must be doubled when the regex rides inside expr()/sql().
WS_RE_SPARK_SQL = WS_RE.replace("\\", "\\\\")


def normalize_text(col: F.Column) -> F.Column:
    """Canonical text form for exact dedup: lower, collapse whitespace, trim.

    Collapse runs BEFORE trimming: trim() strips only ASCII spaces, so a
    leading tab/newline would survive a trim-first order ('\\tb' → ' b' ≠
    'b' — found by the hypothesis fuzz in tests/test_dedup_properties.py).
    After the collapse every whitespace run is a single 0x20, which trim
    does strip. The whitespace class is :data:`WS_RE` — explicit, so the
    DuckDB oracle twins collapse the same characters (Java vs RE2 '\\s'
    disagree on \\x0B).
    """
    return F.trim(F.regexp_replace(F.lower(col), WS_RE, " "))


def exact_dedup(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized text: sha2-group, survivor = min id.

    One shuffle on the 256-bit hash; group sizes are bounded by true
    duplicate multiplicity so no skew mitigation is needed at 100 TB.
    Returns (survivor id, content_hash, n_copies).
    """
    hashed = df.select(
        F.col(id_col),
        F.sha2(F.encode(normalize_text(F.col(text_col)), "UTF-8"), 256).alias(
            "content_hash"
        ),
    )
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        hashed.select(
            "content_hash",
            F.col(id_col),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("content_hash")).alias("n_copies"),
        )
        .where(F.col("rn") == 1)
        .select(F.col(id_col), "content_hash", F.col("n_copies").cast("long"))
    )


def token_shingles(text_col: F.Column, n: int = 3) -> F.Column:
    """Distinct n-token shingles of a document as an array<string>."""
    toks = F.filter(F.split(text_col, " "), lambda t: t != "")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
    )
    # Spark sequence(1, k) is DESCENDING for k < 1 — guard short docs.
    return F.when(F.size(toks) >= n, F.array_distinct(shingles)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_rows(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct (doc, n-token-shingle) ROWS — the fast twin of
    :func:`token_shingles`.

    token_shingles builds an in-row array via transform/concat_ws — the HOF
    chain is interpreted (not whole-stage codegen) and measured ~5 s/pass on
    sf0.1's 270k tokens. r7–r11 used a posexplode + lead-window form
    instead; r12 (guide §2.3/§2.4) replaces that with ``arrays_zip`` of n
    shifted ``slice``s + one explode: the same in-row bulk array kernels,
    but NO doc-keyed window — so no token-wide sort, and the (doc, shingle)
    dedup happens partition-locally (partial aggregate BEFORE any
    exchange). A/B at sf0.1 (tools/ab_shingle_zip_r12.py @ 031fa5b): shingle pass
    0.52 → 0.40 s, the shingle_pair_ppm consumer chain 2.20 → 1.76 s,
    identical 260,388-row output set. At 100 TB the win is structural: the
    old form shuffled EVERY token to the doc window; this form shuffles
    only map-side-deduped shingle rows (and when the scan-parallelism
    guard below repartitions, the dedup is entirely partition-local).
    Equivalence with token_shingles stays fuzz-pinned
    (tests/test_dedup_properties.py).
    """
    # Local-tier scan-parallelism guard (round 10): a bench-tier documents
    # file is smaller than one split, so the scan is ONE task and the whole
    # split+explode phase ran single-threaded (ABAB-measured 0.88 →
    # 0.46 s at sf0.1). Repartition ONLY when the scan produced far fewer
    # partitions than cores — at 100 TB the scan is thousands of splits and
    # this is a no-op (a corpus-wide text shuffle would be exactly wrong).
    # Keying by id lets the (doc, shingle) dedup below run partition-locally
    # (hash partitioning on id satisfies its (id, s) distribution).
    # Width is proportional to cores (not a hard-coded 8): on a 64-core
    # executor an 8-way repartition would still sit 4x under this guard's
    # own trigger threshold. defaultParallelism//2 keeps per-task splits
    # chunky while clearing the parts*4 < cores condition on any box.
    # Two-step probe (round 11): file count first (free — no plan
    # conversion), and only when it looks low confirm with the ACTUAL
    # split count via the RDD probe. File count alone is wrong for
    # few-LARGE-files corpora (2 files × 5 GB = ~80 byte-splits — a
    # repartition there would shuffle the whole corpus's text and CAP
    # parallelism, the exact pathology this guard disclaims), and for
    # non-file-backed frames (inputFiles()=[], e.g. createDataFrame),
    # where the RDD probe sees the true parallelize partition count.
    # ADVICE r11 refinement: many TINY files also defeat the file-count
    # pre-filter — FileSourceScan bin-packs small files (maxPartitionBytes /
    # openCostInBytes), so 64 × 100 KB files can collapse to a handful of
    # splits while file_count*4 >= cores skips the probe and caps
    # parallelism. Sample one file's length (one FS metadata call, no job):
    # only a MANY-large-files corpus may skip the RDD probe; small sampled
    # files fall through to it.
    sc = df.sparkSession.sparkContext
    files = df.inputFiles()
    must_probe = (len(files) or 1) * 4 < sc.defaultParallelism
    if not must_probe and files:
        try:
            jpath = sc._jvm.org.apache.hadoop.fs.Path(files[0])
            fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
            # Below ~4 MB/file the packer merges aggressively; probe to be
            # sure. Above it, each file is >= a split on its own and the
            # scan parallelism is >= file count — safe to skip.
            must_probe = fs.getFileStatus(jpath).getLen() < 4 * 1024 * 1024
        except Exception:  # pragma: no cover - FS oddities: pay the probe
            must_probe = True
    if must_probe and df.rdd.getNumPartitions() * 4 < sc.defaultParallelism:
        df = df.repartition(max(8, sc.defaultParallelism // 2), id_col)

    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    ln = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, i + 1, ln) for i in range(n)])
    return (
        df.select(F.col(id_col), F.explode(z).alias("z"))
        .select(
            id_col,
            F.concat_ws(" ", *[F.col(f"z.{i}") for i in range(n)]).alias("s"),
        )
        .dropDuplicates([id_col, "s"])
    )


def _checkpointed_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc_id, s) shingle rows of ``df``, lazily localCheckpointed: the
    input :func:`shared_shingle_pairs` expects. The zip-slice row form
    (equivalence fuzz-pinned against token_shingles) — the HOF array form
    measured ~5x slower at sf0.1 and the pair core only needs rows. The
    checkpoint lets the core's three consumers (sizes + both self-join
    sides) share ONE materialization instead of re-running the
    scan+shingling per lineage branch (ABAB ~10% on the minhash twin at
    sf0.1; memory-and-disk storage, a deliberate spill-for-recompute trade
    on a 3x-reused frame)."""
    return (
        shingle_rows(df, text_col=text_col, id_col=id_col, n=n)
        .select(F.col(id_col).alias("doc_id"), "s")
        .localCheckpoint(eager=False)
    )


def shared_shingle_pairs(sh: DataFrame, pairable: DataFrame) -> DataFrame:
    """Every document pair sharing at least one shingle, with its exact
    overlap counts: (doc_a, doc_b, shared, na, nb), doc_a < doc_b, where
    ``na``/``nb`` are the two documents' shingle-set sizes. The one
    shared-shingle pair block that every exact Jaccard / containment / ppm
    operator and query projects from.

    ``sh`` is (doc_id, s) rows, distinct per document (a
    :func:`shingle_rows` output), which the caller has already
    materialized — it is read three times (sizes + both join sides).
    ``pairable`` is the rows the self-join reads: ``sh`` itself, or a
    slice of it holding every shingle that can pair (the df-capped callers
    drop df == 1 shingles, which join only themselves). Sizes always count
    all of ``sh``, so the Jaccard denominator is unchanged by the slice.

    The join is keyed on shingle values, so only documents that share a
    shingle ever meet — the 100 TB-safe candidate generation (a hot
    shingle is a skew key; AQE skew-join splits it, and the df-capped
    queries bound it outright).
    """
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = pairable.alias("a"), pairable.alias("b")
    # merge hint: BOTH sides of the shingle self-join grow with the corpus,
    # so broadcast is never the right physical choice at scale — and the
    # planner cannot be trusted to see that: the shingle frame's static
    # estimate runs ~50x under its true size (explode expansion is not
    # modeled; 2.1 MiB claimed for 2.6M rows at the x10 tier), and AQE can
    # only UPGRADE sort-merge to broadcast, never demote a statically
    # chosen broadcast — the x10 parity run on a default-1g driver died in
    # notEnoughMemoryToBuildAndBroadcast before this hint (round 8). Sort-
    # merge over shuffled-hash because SMJ spills while an SHJ build map
    # cannot (PERF.md §50/§54: an SHJ build OOM'd the x10 tier).
    # Both sides are ONE relation under two aliases. Renaming each side in
    # its own projection (doc_id → doc_a / doc_b) gave the same rows and
    # plan node counts but logged "attempted to access non-existent
    # accumulator" DAGScheduler errors on repeated ngram_jaccard_neardup
    # runs at sf0.01 (70 in 8 runs with a JVM GC between runs; 0 with
    # aliases).
    shared = (
        a.hint("merge")
        .join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )

    # No broadcast hint on the sizes table: one row PER DOCUMENT grows with
    # the corpus, so a forced broadcast is a scale-killer at large doc
    # counts — AQE picks broadcast when it actually fits and a shuffle join
    # otherwise.
    def size_of(side: str) -> DataFrame:
        return sizes.select(
            F.col("doc_id").alias(f"doc_{side}"), F.col("n_sh").alias(f"n{side}")
        )

    return (
        shared.join(size_of("a"), "doc_a")
        .join(size_of("b"), "doc_b")
        .select("doc_a", "doc_b", "shared", "na", "nb")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: :func:`shared_shingle_pairs`
    projected to Jaccard = shared / (na + nb − shared).

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded 6.
    """
    sh = _checkpointed_shingles(df, text_col, id_col, n)
    jac = F.expr("shared / (na + nb - shared)")
    return (
        shared_shingle_pairs(sh, sh)
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash(
    df: DataFrame, spark, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per document from md5(token) bit votes.

    Pipeline: explode tokens (with multiplicity — repeated tokens vote
    repeatedly) → md5 hex → ONE ``conv`` packs the first 15 hex chars into
    a single 60-bit BIGINT per token → a single ``groupBy(doc)`` computes
    all 60 per-bit vote sums as 60 codegen'd integer sum-expressions
    (shiftright + %2) → weighted reassembly into one BIGINT, all exact
    integer math. ONE shuffle of one row per token; no row expansion.

    The round-1..3 implementation broadcast-joined a 60-row bit table
    (60× row expansion: ~16M rows and 16M string ``conv`` calls at sf0.1,
    measured 11.6 s); this shape computes identical votes from the packed
    long in 1.1 s — the per-bit work rides in the aggregate expressions
    instead of the row count, which is also the right shape at 100 TB
    (shuffle volume = docs × 60 longs either way, but map-side input stays
    1× the token count). Cross-engine-stable because md5 is the only hash
    involved.

    Bit addressing (pinned by the oracle and tests/test_simhash_fuzz.py):
    logical bit b = bit (b%4) of the 1-based hex char (b//4 + 1). ``conv``
    parses char 1 as MOST significant of the 15-char slice, so that char
    holds packed-long bits 56..59 — logical bit b sits at packed bit
    4*(14 - b//4) + (b%4).
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda t: t != "")).alias("t"),
    ).select(
        "doc",
        F.conv(F.substring(F.md5(F.encode("t", "UTF-8")), 1, 15), 16, 10)
        .cast("long")
        .alias("packed"),
    )

    def vote(b: int) -> F.Column:
        shift = 4 * (14 - b // 4) + (b % 4)
        return (F.shiftright(F.col("packed"), shift) % 2) * 2 - 1

    sums = toks.groupBy("doc").agg(
        *[F.sum(vote(b)).alias(f"v{b}") for b in range(SIMHASH_BITS)]
    )
    weighted = [
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for b in range(SIMHASH_BITS)
    ]
    total = weighted[0]
    for w in weighted[1:]:
        total = total + w
    return sums.select(F.col("doc").alias(id_col), total.cast("long").alias("simhash"))


def simhash_neardup_pairs(
    sh: DataFrame, *, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, with banded candidate
    generation: 60 bits → 4 bands of 15; any pair within Hamming ≤ 3 shares
    at least one identical band (pigeonhole), so the equi-join on
    (band_idx, band_value) finds exactly the same pairs as a quadratic scan
    — per-band-bucket cost instead of |N|² at scale.
    """
    n_bands = 4
    band_bits = SIMHASH_BITS // n_bands
    # shiftright with a Python-literal bit count keeps the math in exact
    # integer ops (a `/` here would detour through double and drop low bits).
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                (F.shiftright("simhash", i * band_bits) % (1 << band_bits)).alias("val"),
            )
            for i in range(n_bands)
        ]
    )
    banded = sh.select(
        F.col(id_col).alias("doc"), "simhash", F.explode(bands).alias("bb")
    ).select("doc", "simhash", F.col("bb.band").alias("band"), F.col("bb.val").alias("val"))

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.where(hamming <= max_hamming).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


def ngram_containment_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: shared/|small| ≥ threshold with
    the smaller shingle set as numerator — catches quotes, excerpts and
    boilerplate wrappers that symmetric Jaccard misses (a 100-shingle doc
    fully embedded in a 10,000-shingle doc has Jaccard ≈ 0.01 but
    containment 1.0 — the CCNet/RefinedWeb-style dedup criterion).

    A projection of :func:`shared_shingle_pairs` (same 100 TB-safe
    candidate generation as ngram_jaccard_pairs). Returns
    (doc_small, doc_big, containment, jaccard) — containment for the
    decision, Jaccard alongside to show what it would have missed.
    """
    sh = _checkpointed_shingles(df, text_col, id_col, n)
    containment = F.expr("shared / least(na, nb)")
    # Smaller set is the contained side; equal sizes tiebreak to doc_a.
    small_is_a = F.col("na") <= F.col("nb")
    return (
        shared_shingle_pairs(sh, sh)
        .where(containment >= threshold)
        .select(
            F.when(small_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_small"),
            F.when(small_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_big"),
            F.round(containment, 6).alias("containment"),
            F.round(F.expr("shared / (na + nb - shared)"), 6).alias("jaccard"),
        )
    )


def shingle_pair_ppm(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Shared-shingle candidate pairs with EXACT integer-ppm Jaccard and
    the threshold-0.5 edge flag — the pair input of the dedup-governance
    family (source_overlap_matrix E272, neardup_cluster_quality E273,
    dedup_governance_rollup E275, dedup_governance_pipeline E278).

    Returns (doc_a, doc_b, jac_ppm, is_edge) with doc_a < doc_b;
    jac_ppm = |∩|·10⁶ div |∪| (multiply-then-div, no float anywhere),
    is_edge ⟺ jaccard ≥ 0.5 via the integer cross-multiplied predicate.
    A projection of :func:`shared_shingle_pairs`; a caller that already
    holds shingle rows calls that core directly.
    """
    sh = _checkpointed_shingles(df, text_col, id_col, n)
    return shared_shingle_pairs(sh, sh).select(
        "doc_a",
        "doc_b",
        F.expr("shared * 1000000 div (na + nb - shared)").alias("jac_ppm"),
        F.expr("shared * 2 >= na + nb - shared").alias("is_edge"),
    )


#: MinHash tables for the banded candidate join. With 1-row bands the miss
#: probability for a true pair of Jaccard s is (1-s)^N_TABLES — 0.39% at the
#: 0.5 threshold boundary, vanishing for real near-dups (0.8 → 2.6e-6);
#: recall is CERTIFIED by the oracle rows_match, not assumed.
MINHASH_TABLES = 8


def minhash_lsh_pairs(sh: DataFrame, pairable: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup pairs, exactly verified: every pair with
    Jaccard ≥ 0.5 that shares a band bucket, as
    (doc_a, doc_b, shared, na, nb) — the same columns and exact counts as
    :func:`shared_shingle_pairs`, so callers project identically.

    ``sh``/``pairable`` follow :func:`shared_shingle_pairs`: (doc_id, s)
    rows already materialized by the caller; signatures and sizes read all
    of ``sh``, the exact verify reads ``pairable`` (``sh`` itself, or the
    df ≥ 2 slice of a df-capped frame). Banding makes candidate generation
    sub-quadratic — only bucket-collision pairs meet:

      1. ONE groupBy(doc_id) takes the shingle count and, per table
         i < MINHASH_TABLES, min ``xxhash64(s, i)`` → an 8-long signature
         row per doc (map-side partial min);
      2. unpivot signatures to (doc, band, val) and equi-join on
         (band, val) — the shuffle key is the band bucket, so only
         same-bucket docs ever meet (never |N|²), skew splittable by AQE;
      3. prune candidates that CANNOT clear the threshold (size-ratio
         bound 2·min(na,nb) ≥ max(na,nb) — exact, not heuristic);
      4. verify the rest EXACTLY: candidate pairs join the shingle rows on
         doc_a, then equi-join on (doc_b, s); shared counts per pair give
         the integer predicate 2·shared ≥ na + nb − shared.

    All three joins are shuffled-hash (PERF.md §52/§56); the comments
    below carry the per-join rationale.
    """
    stats = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[
            F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"m{i}")
            for i in range(MINHASH_TABLES)
        ],
    )
    sig = F.array(
        *[
            F.struct(F.lit(i).alias("band"), F.col(f"m{i}").alias("val"))
            for i in range(MINHASH_TABLES)
        ]
    )
    bands = stats.select("doc_id", "n_sh", F.explode(sig).alias("bv")).select(
        "doc_id", "n_sh", "bv.band", "bv.val"
    )
    a, b = bands.alias("a"), bands.alias("b")
    # shuffle_hash (round 10, was merge): both band sides grow with the
    # corpus (8 rows/doc), so broadcast is never right at scale — the
    # checkpointed frames' static estimates run ~50x under true size,
    # which statically picked a broadcast AQE cannot demote (the x10
    # parity run on a default-1g driver OOM'd in the verify build;
    # round 8). Between the shuffle strategies, SHJ skips the sort and
    # its build side holds only the PER-PARTITION band slice (|bands|/P
    # rows — the same boundedness as any hash agg; AQE skew-split
    # applies), ABAB-measured −0.2 s at sf0.1 and green at the ×10 tier.
    cand = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.n_sh").alias("na"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.n_sh").alias("nb"),
        )
        .distinct()
        # Size-ratio prefilter (round 9): J = shared/(na+nb−shared) ≥ 0.5
        # with shared ≤ min(na,nb) forces 2·min(na,nb) ≥ max(na,nb), so a
        # candidate violating it CANNOT clear the threshold — a rigorous
        # prune, not a heuristic (ties kept; the oracle pair set is
        # untouched). It's free — na/nb already ride on the candidate row —
        # and cuts the verify expansion ~29% at sf0.1 (hub-bucket pairs
        # join dissimilar-length docs). ABAB-measured with the SHJ verify
        # below: 2.66 → 1.69 s at sf0.1 (PERF.md §52).
        .where(F.least("na", "nb") * 2 >= F.greatest("na", "nb"))
    )
    # (r8 counter-measurement: semi-joining the shingle rows down to
    # candidate docs before the verify joins read 3.0-4.0 s vs 2.8 s here —
    # the semi either re-ran per branch or forced an extra materialization
    # barrier; the direct form below stays.)
    #
    # shuffle_hash (round 9, was merge): the verify expansion (cand ×
    # doc_a's shingles, ~4-5M skinny rows at sf0.1) is the largest
    # intermediate, and SMJ had to SORT it on (doc_b, s) — the dominant
    # cost in the ABAB profile. A shuffled-hash join streams the big
    # expansion side unsorted; its build side's per-partition slice is
    # bounded by shuffle partitioning exactly like any hash-agg table —
    # NOT a broadcast (the r8 OOM was a statically-sized broadcast of the
    # whole frame; AQE skew-split applies). The first join builds on CAND
    # (round 10, was the shingle side): the hash map then holds the pruned
    # candidate pairs (4.5x fewer rows than the shingle slice at sf0.1)
    # while the shingle rows stream through as probes — ABAB −0.27 s.
    sa = cand.hint("shuffle_hash").join(
        pairable.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a"
    )
    return (
        sa.join(
            pairable.select(F.col("doc_id").alias("doc_b"), "s").hint("shuffle_hash"),
            ["doc_b", "s"],
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.expr("shared * 2 >= na + nb - shared"))
        .select("doc_a", "doc_b", "shared", "na", "nb")
    )
