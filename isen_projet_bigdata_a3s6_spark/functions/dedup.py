"""Deduplication operators for the training-data surface
(BASELINE.json north_star): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale posture: every variant is groupBy/equi-join shaped — candidate
generation via hash buckets (band LSH / simhash prefix), then pairwise
verification ONLY within buckets. Nothing here is O(n²) over the corpus;
the worst case is O(Σ bucket²) which LSH keeps small by construction.
All hashing is Spark's builtin xxhash64 (JVM-side, seeded, deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .text import char_ngrams, fingerprint


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-id row per normalized-text fingerprint.
    One shuffle on the 64-bit fingerprint (never on the full text)."""
    w = W.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )




# seed for the md5_affine minhash family's per-row affine constants —
# distinct from the CMS seed so the two sketches never share hash rows
_MINHASH_AFFINE_SEED = 1_000_003


def _md5_base_hash(col) -> "F.Column":
    """60-bit shingle base hash BOTH engines can compute identically:
    first 15 hex chars of md5 → integer. Spark: conv(substr(md5,1,15),
    16,10); DuckDB: CAST('0x'||substr(md5,1,15) AS BIGINT). Parity pinned
    in tests (incl. unicode + empty string)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    ngram: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, signature) via the scale shape: explode shingles → one narrow
    (id, gram) stream → groupBy(id) with ``num_hashes`` min-aggregates
    (map-side combined, one shuffle on id). A single per-row array
    expression with N seeds would duplicate the shingle subtree N times and
    fall out of codegen — this form keeps every stage compiled and scales
    to arbitrary corpus size.

    ``hash_family``: ``"xxhash64"`` (default, fastest) or ``"md5_affine"``
    — md5-derived 60-bit base hash + the 2-universal affine family
    (operators/sketches.py::_affine_params), every step of which plain SQL
    reproduces bit-for-bit, so a DuckDB oracle can replay the exact
    signatures, bands, candidates, and estimates (q38). The min-over-
    shingles of a 2-universal affine map is the ORIGINAL MinHash
    construction (Broder '97 uses exactly min of a random linear
    permutation); xxhash64 stays the default because md5 costs ~2-3× per
    shingle."""
    from ..operators.sketches import _CMS_PRIME, _affine_params

    par = df.sparkSession.sparkContext.defaultParallelism
    grams = df.repartition(par).select(
        F.col(id_col).alias("__id"),
        # no array_distinct: duplicate shingles can't change a MIN aggregate
        F.explode(char_ngrams(text_col, ngram)).alias("__g"),
    )
    if hash_family == "md5_affine":
        hashed = grams.select("__id", _md5_base_hash("__g").alias("__h"))
        P = _CMS_PRIME
        mins = []
        for i in range(num_hashes):
            a, b = _affine_params(_MINHASH_AFFINE_SEED, i)
            # (h%P)·a + b < 2^62: safe in int64 (same bound as the CMS)
            mins.append(
                F.min(
                    F.pmod(
                        F.pmod(F.col("__h"), F.lit(P)) * F.lit(a) + F.lit(b),
                        F.lit(P),
                    )
                )
            )
        return hashed.groupBy("__id").agg(F.array(*mins).alias("__sig"))
    if hash_family != "xxhash64":
        raise ValueError(f"minhash: unknown hash_family {hash_family!r}")
    # hash the shingle STRING once, then derive the num_hashes families by
    # re-hashing the 8-byte digest with the family index as seed: each
    # family is still an independent full-width hash (seeded through the
    # hash input), but per-row work drops from N string hashes to 1 string
    # hash + N fixed-width hashes — measured 2.3x faster at sf0.1. (The
    # Kirsch-Mitzenmacher h1+i*h2 shortcut was tried and REVERTED: the
    # shared argmin-shingle correlates signature components, band collisions
    # explode, and candidate verification dominates — slower end-to-end.
    # Re-hashing the digest does NOT share the argmin between families.)
    hashed = grams.select("__id", F.xxhash64("__g").alias("__h"))
    sig = hashed.groupBy("__id").agg(
        F.array(
            *[F.min(F.xxhash64("__h", F.lit(i))) for i in range(num_hashes)]
        ).alias("__sig")
    )
    return sig


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 5,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-duplicate PAIRS: signature → band buckets →
    self-join within buckets → verify estimated Jaccard ≥ threshold.

    Returns (id_a, id_b, jaccard_est) with id_a < id_b, distinct.
    Candidate generation is an equi-join on (band, band-hash); at 100 TB
    the band-bucket join is the only shuffle and is uniformly keyed by
    construction (hash buckets). Fully LAZY: the signature frame is cached
    with a lazy ``persist`` (the physical plan stays visible end-to-end and
    nothing executes at construction time); its footprint is |docs| ×
    num_hashes longs, released by ``spark.catalog.clearCache()`` (bench
    clears between runs) or cache LRU eviction.

    ``hash_family="md5_affine"`` makes the whole pipeline SQL-replayable
    (see :func:`minhash_signatures`); in that mode the band key is the
    band's signature TUPLE itself, not an xxhash64 of it — a band-hash
    collision would admit a candidate pair an external tuple-equality
    replay never generates, and that pair can pass the estimate filter
    (16 matches spread 2-per-band fully collision-admitted), so exact
    replay requires collision-free band keys. Spark joins on array<long>
    equality natively; the key is rows_per_band longs instead of one —
    negligible next to the signature shuffle it rides.
    """
    rows_per_band = num_hashes // bands
    # lazy cache: consumed by both band-join branches and both verify joins
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, ngram, hash_family
    ).persist()

    def _band_key(b: int):
        sl = F.slice("__sig", b * rows_per_band + 1, rows_per_band)
        return sl if hash_family == "md5_affine" else F.xxhash64(sl)

    banded = sig.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_key(b).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__b"),
    ).select("__id", "__sig", "__b.band", "__b.bh")

    # candidate generation on bare ids — deduplicate pairs BEFORE attaching
    # signatures so the dropDuplicates shuffle moves 2 longs per row, not
    # two num_hashes-element arrays (8-30x less shuffle bytes when bands
    # collide heavily on self-similar corpora)
    a = banded.select("band", "bh", F.col("__id").alias("id_a"))
    b = banded.select("band", "bh", F.col("__id").alias("id_b"))
    cand_ids = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_only = sig.select("__id", "__sig")
    cand = cand_ids.join(
        sig_only.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sig_a")),
        "id_a",
    ).join(
        sig_only.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sig_b")),
        "id_b",
    )
    jacc = (
        F.size(
            F.filter(
                F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    )
    return (
        cand.withColumn("jaccard_est", jacc)
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def minhash_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 5,
    threshold: float = 0.8,
) -> str:
    """ANSI-SQL replay of ``minhash_dedup_pairs(hash_family='md5_affine')``:
    identical normalization (the q40-oracle idioms; the whitespace class is
    spelled out as ``[ \\t\\n\\x0b\\f\\r]`` — Java's ``\\s`` — because RE2's
    ``\\s`` omits U+000B and a vertical tab in the text would silently
    drift the oracle; r08 advisory), identical 60-bit md5 base hash,
    identical affine rows, tuple-equality banding, identical estimate
    arithmetic (m / num_hashes is exact — the divisor is a power of two at
    every registered config). Known residual: ``lower()`` on
    locale-sensitive case mappings (e.g. 'İ' → Java 'i̇' vs DuckDB 'i')
    still differs — fixture text never exercises it; pinned in
    tests/test_round9_fixes.py. LSH is "approximate" w.r.t. TRUE
    Jaccard, but the candidate set and estimates are a pure deterministic
    function of the data once the hash family is fixed — which is exactly
    what this family makes externally computable."""
    from ..operators.sketches import _CMS_PRIME, _affine_params

    P = _CMS_PRIME
    rpb = num_hashes // bands
    rows = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in (
            (i, _affine_params(_MINHASH_AFFINE_SEED, i))
            for i in range(num_hashes)
        )
    )
    return f"""
    WITH params(i, a, b) AS (VALUES {rows}),
    norm AS (
      SELECT {id_col} AS id,
             regexp_replace(lower(trim({text_col}, ' ')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS t
      FROM {table}
    ),
    grams AS (
      -- scalar range + list_transform + unnest (the q40-oracle idiom:
      -- DuckDB's range() table function rejects lateral column bounds)
      SELECT id,
             unnest(list_transform(range(1, len(t) - {ngram - 2}),
                                   i -> substr(t, CAST(i AS INT), {ngram})))
               AS g
      FROM norm
    ),
    hashed AS (
      SELECT id, CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
      FROM grams
    ),
    sig AS (
      SELECT id, p.i, MIN(((h % {P}) * p.a + p.b) % {P}) AS s
      FROM hashed CROSS JOIN params p
      GROUP BY 1, 2
    ),
    bandk AS (
      SELECT id, i // {rpb} AS band, list(s ORDER BY i) AS key
      FROM sig GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bandk a JOIN bandk b
        ON a.band = b.band AND a.key = b.key AND a.id < b.id
    ),
    m AS (
      SELECT c.id_a, c.id_b,
             SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS mm
      FROM cand c
      JOIN sig sa ON sa.id = c.id_a
      JOIN sig sb ON sb.id = c.id_b AND sb.i = sa.i
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(mm AS DOUBLE) / {float(num_hashes)} AS jaccard_est
    FROM m
    WHERE CAST(mm AS DOUBLE) / {float(num_hashes)} >= {threshold}
    """


def minhash_eval_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    id_filter: str,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 5,
    threshold: float = 0.8,
) -> str:
    """ANSI-SQL replay of the q206 MinHash precision/recall self-eval:
    the PRED side re-runs :func:`minhash_oracle_sql` (md5_affine family —
    bit-exact signatures/bands/estimates) on the bounded slice; the TRUTH
    side recomputes exact all-pairs distinct-char-n-gram Jaccard with the
    q40-oracle idioms; precision/recall/F1 mirror the Spark expression
    tree (raw IEEE divisions on identical integers, round6 at the end)."""
    inner = minhash_oracle_sql(
        f"(SELECT * FROM {table} WHERE {id_filter}) AS src",
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        ngram=ngram,
        threshold=threshold,
    )
    return f"""
    WITH pred AS (SELECT id_a, id_b FROM ({inner}) AS p),
    tnorm AS (
      SELECT {id_col} AS id,
             regexp_replace(lower(trim({text_col}, ' ')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS t
      FROM {table} WHERE {id_filter}
    ),
    tgrams AS (
      SELECT id,
             list_sort(list_distinct(
               list_transform(range(1, len(t) - {ngram - 2}),
                              i -> substr(t, CAST(i AS INT), {ngram})))) AS g
      FROM tnorm WHERE len(t) >= {ngram}
    ),
    truth AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM tgrams a JOIN tgrams b ON a.id < b.id
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE)
            >= {threshold}
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM pred) AS n_pred,
             (SELECT COUNT(*) FROM truth) AS n_truth,
             (SELECT COUNT(*) FROM pred JOIN truth
                ON pred.id_a = truth.id_a AND pred.id_b = truth.id_b) AS tp
    ),
    raws AS (
      SELECT n_pred, n_truth, tp,
             CASE WHEN n_pred = 0 THEN 1.0e0
                  ELSE CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS p_raw,
             CASE WHEN n_truth = 0 THEN 1.0e0
                  ELSE CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE) END AS r_raw
      FROM counts
    )
    SELECT n_pred, n_truth, tp,
           ROUND(p_raw, 6) AS "precision",
           ROUND(r_raw, 6) AS recall,
           ROUND(CASE WHEN p_raw + r_raw = 0.0e0 THEN 0.0e0
                      ELSE 2.0e0 * p_raw * r_raw / (p_raw + r_raw) END, 6) AS f1
    FROM raws
    """


def _minhash_cc_ctes(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    threshold: float,
    ngram: int = 5,
) -> str:
    """Shared CTE block for the transitive-dedup oracles (q78/q189):
    md5_affine MinHash pairs (nested :func:`minhash_oracle_sql`) +
    recursive-CTE connected components — the q280 precedent generalized:
    "iterative CC has no SQL twin" is false for bounded graphs, and the
    near-dup pair graph at any verification SF is bounded by construction.
    Yields CTEs ``pairs``/``edges``/``reach``/``labels`` where labels =
    (id, component = min reachable id), exactly
    :func:`connected_components`'s fixpoint."""
    inner = minhash_oracle_sql(
        table, id_col, text_col,
        num_hashes=num_hashes, bands=bands, ngram=ngram, threshold=threshold,
    )
    return f"""pairs AS (SELECT id_a, id_b FROM ({inner}) mp),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS id, src AS comp FROM edges
      UNION
      SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
    ),
    labels AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY 1)"""


def transitive_dedup_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> str:
    """ANSI-SQL replay of q78 (md5_affine MinHash pairs → connected
    components → cluster sizes). See :func:`_minhash_cc_ctes`."""
    ctes = _minhash_cc_ctes(table, id_col, text_col, num_hashes, bands, threshold)
    return f"""
    WITH RECURSIVE {ctes}
    SELECT component, COUNT(*) AS cluster_size FROM labels GROUP BY 1
    """


def neardup_clusters_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> str:
    """ANSI-SQL replay of q189 (md5_affine MinHash pairs → connected
    components → lowest-id canonical pick per cluster)."""
    ctes = _minhash_cc_ctes(table, id_col, text_col, num_hashes, bands, threshold)
    return f"""
    WITH RECURSIVE {ctes}
    SELECT component AS cluster, id AS doc_id,
           ROW_NUMBER() OVER (PARTITION BY component ORDER BY id) = 1
             AS is_canonical
    FROM labels
    """


def minhash_dedup(
    df: DataFrame, text_col: str, id_col: str, **kwargs
) -> DataFrame:
    """MinHash dedup: drop every doc that near-matches a lower-id doc.
    (Connected-component clustering is the full variant; keep-lowest-per-pair
    is the standard one-pass approximation.)"""
    pairs = minhash_dedup_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 3,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) via the scale shape: explode shingles → per-bit
    conditional-sum votes in ONE groupBy (map-side combined) → sign → bit.
    64 simple agg expressions over a narrow (id, hash) stream stay inside
    codegen (a per-row 64-fold array expression would not).

    ``hash_family="md5_affine"`` uses the shared 60-bit md5 base hash
    (:func:`_md5_base_hash`) and forces ``bits=60`` (all positive — no
    sign-bit special case), making the whole signature SQL-replayable
    (q39's oracle); xxhash64 stays the default."""
    if hash_family == "md5_affine":
        bits = 60
        shingle_hash = _md5_base_hash("__g")
    elif hash_family == "xxhash64":
        shingle_hash = F.xxhash64("__g")
    else:
        raise ValueError(f"simhash: unknown hash_family {hash_family!r}")
    par = df.sparkSession.sparkContext.defaultParallelism
    grams = df.repartition(par).select(
        F.col(id_col).alias("__id"),
        F.explode(char_ngrams(text_col, ngram)).alias("__g"),
    ).select("__id", shingle_hash.alias("__h"))
    votes = grams.groupBy("__id").agg(
        *[
            F.sum(
                F.when(
                    F.col("__h").bitwiseAND(
                        F.lit(1 << i) if i < 63 else F.lit(-(2**63))
                    )
                    != 0,
                    1,
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(bits):
        mask = F.lit(1 << i) if i < 63 else F.lit(-(2**63))
        sig = sig.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, mask).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("__id", sig.alias("__sh"))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    ngram: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: 4-block decomposition (any pair within
    Hamming distance ≤3 agrees exactly on ≥1 of 4 blocks, pigeonhole) →
    equi-join per block → verify Hamming distance.
    Returns (id_a, id_b, hamming). Blocks are 16 bits over the 64-bit
    xxhash64 signature, 15 bits over the 60-bit md5_affine one (same
    pigeonhole guarantee — 4 disjoint blocks cover every bit)."""
    sh = simhash_signatures(df, text_col, id_col, ngram, hash_family=hash_family)
    blk_bits = 15 if hash_family == "md5_affine" else 16
    blk_mask = (1 << blk_bits) - 1
    blocks = sh.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("__sh", i * blk_bits)
                        .bitwiseAND(F.lit(blk_mask))
                        .alias("bv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("__b"),
    ).select("__id", "__sh", "__b.blk", "__b.bv")
    a = blocks.select("blk", "bv", F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = blocks.select("blk", "bv", F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    ham = F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b")))
    return (
        a.join(b, ["blk", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    ngram: int = 3,
) -> str:
    """ANSI-SQL replay of ``simhash_dedup_pairs(hash_family='md5_affine')``:
    identical normalization and shingles, the shared 60-bit md5 base hash,
    per-bit majority votes, 4×15-bit block candidate join, bit_count
    Hamming verify — every step integer arithmetic both engines share."""
    votes = ",\n               ".join(
        f"SUM(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(60)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(60)
    )
    return f"""
    WITH norm AS (
      SELECT {id_col} AS id,
             regexp_replace(lower(trim({text_col}, ' ')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS t
      FROM {table}
    ),
    grams AS (
      SELECT id,
             unnest(list_transform(range(1, len(t) - {ngram - 2}),
                                   i -> substr(t, CAST(i AS INT), {ngram})))
               AS g
      FROM norm
    ),
    hashed AS (
      SELECT id, CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
      FROM grams
    ),
    votes AS (
      SELECT id,
               {votes}
      FROM hashed GROUP BY id
    ),
    sig AS (SELECT id, ({sig_expr}) AS sh FROM votes),
    blocks AS (
      SELECT id, sh, b.blk, (sh >> (b.blk * 15)) & 32767 AS bv
      FROM sig, (VALUES (0), (1), (2), (3)) b(blk)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sha, b.sh AS shb
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bv = b.bv AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sha, shb)) <= {max_hamming}
    """


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 5,
    threshold: float = 0.5,
    band_grams: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing at least
    one of their ``band_grams`` RAREST shingles (ascending global document
    frequency, lexicographic tiebreak — deterministic and SQL-replayable).
    Returns (id_a, id_b, jaccard) with exact Jaccard.
    At corpus scale swap the blocking key for MinHash bands
    (:func:`minhash_dedup_pairs`) — this exact variant is the verifier.

    Rarity matters, not order: the original lexicographically-SMALLEST
    blocking key concentrated most documents onto one bucket (the minimal
    5-gram of real text is almost always the same punctuation/space
    sequence), and each candidate row carries BOTH full gram arrays — at
    the sf1 upscale smoke that one hot bucket spilled past the disk
    (~quadratic pairs × ~10 KB payload). A rarest-shingle key gives
    bucket sizes equal to the key's document frequency — small by
    construction."""
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(char_ngrams(text_col, ngram)).alias("__g"),
    ).filter(F.size("__g") > 0)
    exploded = grams.select("__id", F.explode("__g").alias("__k"))
    dfreq = exploded.groupBy("__k").agg(F.count(F.lit(1)).alias("__df"))
    block = (
        exploded.join(dfreq, "__k")
        .withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("__id").orderBy(F.asc("__df"), F.asc("__k"))
            ),
        )
        .filter(F.col("__rn") <= band_grams)
        .select("__id", "__k")
    )
    # ids only through the blocking join and the distinct; the gram arrays
    # (kilobytes per document) reattach via two id-equi-joins on the
    # deduped candidate set — same payload discipline as the LSH family
    a = block.select("__k", F.col("__id").alias("id_a"))
    b = block.select("__k", F.col("__id").alias("id_b"))
    inter = F.size(F.array_intersect("__ga", "__gb")).cast("double")
    union = F.size(F.array_union("__ga", "__gb")).cast("double")
    return (
        a.join(b, "__k")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(grams.select(F.col("__id").alias("id_a"), F.col("__g").alias("__ga")), "id_a")
        .join(grams.select(F.col("__id").alias("id_b"), F.col("__g").alias("__gb")), "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_bits: int = 16,
    bands: int = 4,
    dim: int | None = None,
    exact: bool = False,
    target_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) with
    cosine ≥ threshold.

    ``exact=True`` scores ALL pairs via a self cross join — the oracle
    baseline, quadratic, only for verification at small scale.
    ``exact=False`` (default) generates candidates via SRP-LSH banding
    (same hyperplane family as similarity.lsh_topk) and scores only
    bucket-colliding pairs — the 100 TB path.

    ``target_bucket`` makes the band width CORPUS-ADAPTIVE: bits per band
    become max(num_bits // bands, ⌈log2(n / target_bucket)⌉), capped at
    64 // bands (the packed-int64 signature width). Fixed-width bands do
    not scale — bucket count is constant, so bucket SIZE grows linearly
    with the corpus and candidate pairs grow QUADRATICALLY (the sf1
    upscale smoke: 20k vectors through 2-bit bands = 4 buckets/band ≈
    100M candidates, disk-exhausted). Adaptive width keeps expected
    bucket size ≈ target_bucket at every corpus size; the recall cost per
    added bit is the standard SRP trade-off ((1 − θ/π) per bit) and
    belongs to the caller's (bands, threshold) design."""
    from .similarity import _hyperplanes, cosine, srp_signature

    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    if exact:
        a = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
        b = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
        par = df.sparkSession.sparkContext.defaultParallelism
        cand = a.repartition(par).join(b, how="cross").filter(F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            first = df.select(F.size(vec_col).alias("d")).first()
            if first is None:
                # empty corpus: no pairs (schema-correct empty result)
                id_type = df.schema[id_col].dataType.simpleString()
                return df.sparkSession.createDataFrame(
                    [], f"id_a {id_type}, id_b {id_type}, cos_sim double"
                )
            dim = int(first["d"])
        bits_per_band = num_bits // bands
        if target_bucket is not None:
            import math

            n = df.count()
            needed = max(1, math.ceil(math.log2(max(n, 1) / target_bucket))) if n > target_bucket else 1
            bits_per_band = min(max(bits_per_band, needed), 64 // bands)
        planes = _hyperplanes(dim, bands * bits_per_band)
        mask = (1 << bits_per_band) - 1
        sig = base.withColumn("__sig", srp_signature(F.col("__v"), planes))
        banded = sig.select(
            "__id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftrightunsigned("__sig", i * bits_per_band)
                            .bitwiseAND(F.lit(mask))
                            .alias("bb"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("__b"),
        ).select("__id", "__b.band", "__b.bb")
        # ids ONLY through the band join and the distinct: the hot shuffle
        # moves 16-byte pair rows, not kilobyte vector payloads (carrying
        # both vectors through every banded collision multiplied the sf1
        # smoke's shuffle ~60x and exhausted the disk). Vectors reattach
        # via two id-equi-joins on the deduped candidate set.
        a = banded.select("band", "bb", F.col("__id").alias("id_a"))
        b = banded.select("band", "bb", F.col("__id").alias("id_b"))
        cand = (
            a.join(b, ["band", "bb"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .join(base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va")), "id_a")
            .join(base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb")), "id_b")
        )
    return (
        cand.withColumn("cos_sim", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_dedup_lsh_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: str = "vec_id, label",
    threshold: float = 0.35,
    bands: int = 8,
    bits_per_band: int = 2,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """ANSI-SQL replay of ``embedding_dedup(..., target_bucket=...)``
    (q73): the seeded SRP hyperplanes are inlined as literal weights and
    the sign-bit band buckets replayed exactly
    (:func:`..similarity.srp_band_bucket_sql` — the candidate set depends
    on unquantized projection SIGNS, which the left-fold chain reproduces
    bit-for-bit); candidate pairs = any-band bucket equality; verification
    scores with the q41/q72 list_dot_product convention, with the
    threshold applied to the ROUND6 value exactly as the Spark side does;
    survivors = anti-join against verified losers (higher id of each
    pair).

    ``bits_per_band`` must be the width the ADAPTIVE rule resolves to at
    the scale under check: with target_bucket=256 the base 2-bit width
    holds for every corpus up to 1024 vectors — all driver SFs (500) and
    every sweep fixture derived from them. At larger fixtures the Spark
    side widens bands (by design) and this replay does not apply."""
    from .similarity import _hyperplanes, srp_band_bucket_sql

    planes = _hyperplanes(dim, bands * bits_per_band, seed)
    bbs = srp_band_bucket_sql(planes, vec_col, bands)
    bb_cols = ",\n             ".join(f"{e} AS bb{i}" for i, e in enumerate(bbs))
    any_band = " OR ".join(f"a.bb{i} = b.bb{i}" for i in range(bands))
    return f"""
    WITH banded AS (
      SELECT {id_col}, {vec_col},
             {bb_cols}
      FROM {table}
    ),
    pairs AS (
      SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
             ROUND(list_dot_product(CAST(a.{vec_col} AS DOUBLE[]), CAST(b.{vec_col} AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(a.{vec_col} AS DOUBLE[]), CAST(a.{vec_col} AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(b.{vec_col} AS DOUBLE[]), CAST(b.{vec_col} AS DOUBLE[])))), 6)
               AS cos_sim
      FROM banded a JOIN banded b
        ON a.{id_col} < b.{id_col} AND ({any_band})
    ),
    losers AS (
      SELECT DISTINCT id_b FROM pairs WHERE cos_sim >= {threshold}
    )
    SELECT {keep_cols} FROM {table} t
    WHERE t.{id_col} NOT IN (SELECT id_b FROM losers)
    """


def embedding_dedup(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95, **kwargs
) -> DataFrame:
    """Drop every row whose embedding near-matches a lower-id row."""
    pairs = embedding_dedup_pairs(df, vec_col, id_col, threshold, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    reliable: bool | None = None,
) -> DataFrame:
    """Transitive duplicate clusters from near-dup PAIRS: iterative
    min-label propagation (a.k.a. hash-to-min) with pointer jumping.
    Returns (id, component) where component = min id reachable.

    Each iteration: every node adopts the smallest label among itself and
    its neighbors (one join + one groupBy), then labels are pointer-jumped
    (``component ← component[component]``, one more equi-join on the label
    frame) so label information hops two levels per round — O(log diameter)
    convergence instead of O(diameter), which keeps long similarity chains
    safely inside ``max_iter``. This is the standard large-graph CC shape on
    Spark; cutting lineage per round (reliable ``checkpoint()`` when a
    checkpoint dir is configured — the fault-tolerant 100 TB posture — else
    ``localCheckpoint``) keeps the plan from growing unboundedly.

    Raises ``RuntimeError`` if the loop hits ``max_iter`` with labels still
    changing — a silently-split component is a correctness bug, not a
    best-effort answer.
    """
    from ..checkpointing import cut_lineage

    # PERSIST the edge frame: it is joined on every iteration, and the
    # caller's pairs pipeline may be arbitrarily expensive (q78/q189 feed
    # the full LSH band-join + verify here) — without the cache that
    # pipeline re-executes up to max_iter times. Lazy persist, so nothing
    # runs before the first iteration's action; released before return
    # (safe: the result is eagerly materialized by the in-loop lineage
    # cuts, so it no longer references edges).
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    changed = -1
    for _ in range(max_iter):
        # neighbor labels: for each dst, the min label among its srcs
        neighbor = (
            edges.join(labels, edges.src == labels.id, "inner")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("n_comp"))
        )
        new_labels = labels.join(neighbor, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: component ← component's component (labels are node
        # ids, so the label frame doubles as the lookup table)
        lut = new_labels.select(
            F.col("id").alias("__cid"), F.col("component").alias("__cc")
        )
        new_labels = (
            new_labels.join(lut, new_labels.component == lut.__cid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("__cc"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = cut_lineage(new_labels, reliable=reliable)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds — components would be silently split; raise max_iter "
            "(pointer jumping makes each round cover 2^k-hop chains)"
        )
    return labels


def dedup_transitive(
    df: DataFrame, pairs: DataFrame, id_col: str, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Keep one survivor (the min id) per transitive near-dup cluster."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def editdist1_pairs(
    df: DataFrame, id_col: str, str_col: str
) -> DataFrame:
    """All pairs within Levenshtein distance 1, via symmetric-delete
    (SymSpell) blocking: each string's candidate keys are itself plus every
    single-character deletion; ed(s,t) ≤ 1 ⇒ the key sets intersect
    (substitution: same-position deletes coincide; insert/delete: the
    shorter string IS a delete of the longer). Candidates are an equi-join
    on short variant strings — ~(len+1) keys per row, never all-pairs —
    then verified with the builtin ``levenshtein`` (JVM-side). Returns
    ``(id_a, id_b, dist)`` with id_a < id_b, exact and complete."""
    s = F.col(str_col)
    variants = F.array_union(
        F.array(s),
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                # no length argument: the rest of the string, without
                # re-measuring ``s`` once per deleted position
                F.substr(s, i + 1),
            ),
        ),
    )
    keyed = df.select(
        F.col(id_col).alias("id"), s.alias("s"), F.explode(variants).alias("v")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("s_a", "s_b").cast("int"))
        .filter(F.col("dist") <= 1)
        .select("id_a", "id_b", "dist")
    )


def _hashed_doc_arrays(df: DataFrame, id_col: str, toks):
    """Shared front half of the prefix-filter family
    (:func:`jaccard_prefix_pairs` / :func:`containment_prefix_pairs`):
    hash the distinct tokens to int64 and collapse each document to ONE
    row holding its tokens sorted by ascending (global document
    frequency, token) — the df-rank order both joins consume. One
    implementation so tokenization semantics can never drift between the
    symmetric and asymmetric joins.

    r12 shape: the pre-r12 version kept the ranked TOKEN STREAM and
    derived rank/size with a per-id repartition + two window passes, and
    each caller re-aggregated the stream a second time for its verify
    arrays — three data-sized exchanges plus a sort over |tokens|. The
    per-doc array form ranks by ONE in-row ``sort_array`` after the
    groupBy exchange (struct<df,token> sorts lexicographically — exactly
    the window's (df asc, token asc) order, and (df, token) is unique per
    doc, so ranks are identical), and the same array yields the prefix
    slice (``rn`` = position), ``sz`` = size, and the verify token list —
    measured ~1.6 s of q161's 4.2 s at sf0.1 (guide §2.4: two operations
    keyed the same way share one exchange).

    Returns ``(tok, docarr, nparts)`` — ``tok`` carries a LAZY persist (it
    feeds the dfreq aggregate AND the dfreq join below; released by
    ``spark.catalog.clearCache()``); ``docarr`` is (id, arr:
    array<struct<df,token>>, sz) and is NOT persisted (each caller
    decides, since their reuse patterns differ)."""
    # CPU-bound stages get EXPLICIT numPartitions repartitions: shuffle
    # BYTES are tiny (hashed longs) so AQE's size-based coalescing would
    # serialize the work onto one core, while COMPUTE follows |tokens| —
    # partition count must follow cores, not bytes. The pre-groupBy
    # repartition doubles as that guard: groupBy("id") reuses its
    # hashpartitioning, so the in-row sort_array work stays on nparts
    # cores instead of whatever AQE would coalesce ~30 MB down to.
    nparts = df.sparkSession.sparkContext.defaultParallelism
    src = df
    if src.rdd.getNumPartitions() < nparts:
        # local small-file guard: a single-file corpus arrives as one
        # partition and would tokenize single-threaded. No-op at scale.
        src = src.repartition(nparts)
    # tokens hashed to int64 (xxhash64) before everything else: the rank
    # sort, candidate equi-join, and array_intersect verify all run on
    # longs instead of strings (~4x on this corpus); collision risk
    # |vocab|^2 / 2^65 is negligible and the oracle would surface it.
    tok = src.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.filter(toks, lambda s: s != ""), lambda s: F.xxhash64(s)
            )
        ).alias("token"),
    ).persist()
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    docarr = (
        tok.join(dfreq, "token")
        .repartition(nparts, "id")
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("token")))
            ).alias("arr")
        )
        .withColumn("sz", F.size("arr"))
    )
    return tok, docarr, nparts


def _explode_ranked(docarr: DataFrame, prefix_len=None) -> DataFrame:
    """(id, df, token, rn, sz) stream from a ``_hashed_doc_arrays`` frame —
    the whole df-ordered list, or only the first ``prefix_len`` entries
    (a Column in terms of ``sz``). ``rn`` is the 1-based df-rank, identical
    to the pre-r12 window ``row_number`` by construction."""
    arr = F.col("arr") if prefix_len is None else F.slice(
        F.col("arr"), 1, prefix_len.cast("int")
    )
    return docarr.select(
        "id", "sz", F.posexplode(arr).alias("pos", "e")
    ).select(
        "id",
        F.col("e.df").alias("df"),
        F.col("e.token").alias("token"),
        (F.col("pos") + 1).alias("rn"),
        "sz",
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    ngram: int | None = None,
) -> DataFrame:
    """All document pairs with token-set Jaccard ≥ ``threshold``, via PREFIX
    FILTERING (Chaudhuri/Ganti/Kaushik ICDE'06, the SSJoin/PPJoin family):
    order every document's distinct tokens by ascending global document
    frequency (rarest first) and emit only the first
    ``|d| − ⌈threshold·|d|⌉ + 1`` tokens as join keys — any pair with
    J ≥ threshold must share at least one PREFIX token (if they shared
    none, the overlap is at most |d| − prefix_len < threshold·|d| ≤ the
    required overlap), so the candidate equi-join is complete, while the
    frequent tokens that create quadratic blow-up in a naive token join
    never become keys. A PPJoin length filter (t·|a| ≤ |b|) prunes
    candidates whose size ratio already forbids J ≥ t. Candidates are
    verified with the exact Jaccard. Returns ``(id_a, id_b, jaccard)``
    with id_a < id_b — exact and complete, same result as the all-pairs
    oracle.

    Candidates then pass more exact filters before the (expensive)
    set-intersection verify:

    - PPJoin length filter (t·|a| ≤ |b| ≤ |a|/t) at join time;
    - PPJoin POSITIONAL filters (Xiao et al., WWW'08), realised as a
      WEAK row-level filter at join time plus the FULL pair-level bound
      after aggregation. The bound family: order both docs' tokens by
      the one global (df, token) order; if the pair's i-th shared token
      (counting shared tokens in that order) sits at positions a_i/b_i,
      then ``overlap ≤ i + min(|a|−a_i, |b|−b_i)`` — exactly i shared
      tokens rank ≤ the i-th one, and everything else shared must rank
      after BOTH positions. The bound is non-increasing in i (i grows by
      1 per step, each position grows by ≥ 1), so the TIGHTEST bound is
      at the LAST shared prefix token — which requires counting ALL
      shared prefix rows. The r03–r12 row filter
      (``1 + min(slack) ≥ α``) made that count unrecoverable: it is the
      i = 1 bound applied per row, every surviving row trivially
      re-satisfies it at pair level (proven vacuous in r13: 0 of 199,557
      sf0.1 candidates pruned), and it discards exactly the deep rows
      the i = j bound needs. r13 therefore (1) weakens the row filter to
      ``min(p_a, p_b) + min(slack) ≥ α`` — valid because the true shared
      rank i of a row is ≤ min(p_a, p_b), so for a QUALIFYING pair every
      shared row satisfies it (i + min(slack_i) ≥ overlap ≥ α); a row it
      drops certifies ``i + min(slack_i) < α`` for its pair, i.e. the
      pair cannot qualify, so losing its rows (and thereby possibly
      mis-counting cnt for that already-dead pair) never loses a result
      — and (2) applies the i = 1 and i = cnt bounds per pair from
      min_by/max_by/count aggregates. Measured at sf0.1: candidates
      199,557 → 63,571 (3.1×); brute-force pins + oracle re-proven.

    ``ngram=None`` tokenizes on single spaces (word sets); ``ngram=k``
    uses distinct character k-shingles (:func:`..text.char_ngrams`) — use
    shingles when the word vocabulary is small relative to the corpus
    (every word frequent ⇒ no token is selective and BOTH the candidate
    set and the true result degenerate toward all-pairs).

    Plan shape (fully LAZY — nothing executes at construction time, and no
    eager checkpoint collapses the tree): the hashed token stream, the
    per-doc rank-array frame, and the prefix frame carry lazy ``persist``
    marks because each feeds multiple branches (the InMemoryRelation
    keeps the child plan visible; caches are released by
    ``spark.catalog.clearCache()``, which bench runs between repetitions
    — at 100 TB use DISK_ONLY or accept recompute).
    The verify joins carry the per-doc sorted
    shingle arrays with NO broadcast hint: the optimizer broadcasts the
    |docs|-row set table while its stats fit ``autoBroadcastJoinThreshold``
    and falls back to a plain shuffle join beyond that — a corpus-sized
    forced broadcast would OOM the cluster at scale. Candidates are
    explicitly repartitioned to ``defaultParallelism`` before the verify
    so AQE's small-shuffle coalescing can't serialize the
    O(|candidates|·|doc|) intersection work onto one core."""
    if not 0 < threshold <= 1:
        raise ValueError("jaccard_prefix_pairs: threshold must be in (0, 1]")
    if ngram is None:
        toks = F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
    else:
        toks = F.array_distinct(char_ngrams(text_col, n=ngram))
    tok, docarr, nparts = _hashed_doc_arrays(df, id_col, toks)
    # lazy persist: the prefix explode below AND both verify joins read
    # this frame — one materialization of the rank pipeline (~|docs| rows
    # of token arrays), released by clearCache.
    docarr = docarr.persist()
    # prefix length |d| − ⌈t·|d|⌉ + 1, taken as an array SLICE (rn =
    # position in the df-sorted array). RELATIVE slack (1e-9·sz) inside
    # the ceil errs toward a LONGER prefix: 0.85*40 evaluates to
    # 34.000000000000004 in doubles, and a bare ceil would read 35,
    # silently shortening the prefix and dropping a qualifying pair whose
    # only shared token sits at the boundary rank. The slack scales with
    # the product's magnitude so half-an-ULP of t·sz can never exceed it
    # even at tens of millions of distinct tokens (an absolute 1e-9 stops
    # covering near t·sz ≈ 1e7); keep-side safe — the exact verify
    # discards extras.
    plen = (
        F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9) * F.col("sz"))
        + 1
    )
    # second lazy persist: both sides of the self-join read this frame, and
    # expression-id canonicalization does not reliably fire ReuseExchange
    # across self-join aliases — without the cache the prefix explode
    # executes twice. ~prefix rows × 28 B, far smaller than the doc cache.
    prefix = _explode_ranked(docarr, prefix_len=plen).persist()
    # required overlap for J ≥ t: i ≥ t·(|a|+|b|)/(1+t); the RELATIVE
    # 1e-9·(sa+sb) slack makes every comparison err toward KEEPING at any
    # document size, so float rounding can never cost completeness
    alpha = (
        F.lit(threshold)
        * (F.col("p1.sz") + F.col("p2.sz"))
        / F.lit(1.0 + threshold)
        - F.lit(1e-9) * (F.col("p1.sz") + F.col("p2.sz"))
    )
    # candidate pairs. The positional bound family (docstring) is applied
    # as (1) a WEAK row-level filter at join time — drop a matched row
    # only when even the optimistic shared-rank proxy min(p_a, p_b)
    # cannot rescue it: ``min(rn1, rn2) + min(slack) < α`` certifies the
    # true bound at that row's index is < α, i.e. its PAIR cannot
    # qualify, so every shared row of a qualifying pair survives and the
    # pair-level count below is EXACT for every pair that can still
    # matter — and (2) the pair-level i = 1 / i = cnt bounds after the
    # aggregation. (The r03–r12 row filter 1 + min(slack) ≥ α pruned
    # rows 14× harder but provably reduced both pair bounds to no-ops;
    # r13 A/B at the sf1 fixture: 16.8 s vs 19.2 s best-of-3 in favour
    # of this shape, with 3.1× fewer verify candidates.)
    matched = prefix.alias("p1").join(
        prefix.alias("p2"),
        (F.col("p1.token") == F.col("p2.token"))
        & (F.col("p1.id") < F.col("p2.id"))
        # PPJoin length filter: J ≥ t forces t·max(|a|,|b|) ≤ min(|a|,|b|)
        & (F.col("p1.sz") * F.lit(threshold) <= F.col("p2.sz"))
        & (F.col("p2.sz") * F.lit(threshold) <= F.col("p1.sz"))
        # (1) weak row-level positional filter (pair-death certificate)
        & (
            F.least(F.col("p1.rn"), F.col("p2.rn"))
            + F.least(
                F.col("p1.sz") - F.col("p1.rn"),
                F.col("p2.sz") - F.col("p2.rn"),
            )
            >= alpha
        ),
    )
    first = F.min_by(
        F.struct(F.col("p1.rn").alias("pa"), F.col("p2.rn").alias("pb")),
        F.struct(F.col("p1.df"), F.col("p1.token")),
    ).alias("m")
    # i = cnt bound inputs: the LAST shared prefix token's positions and
    # the exact shared-prefix count (exact for qualifying pairs — see the
    # row-filter argument above; undercounted only for pairs already
    # certified dead, which both bounds may then freely drop).
    last = F.max_by(
        F.struct(F.col("p1.rn").alias("pa"), F.col("p2.rn").alias("pb")),
        F.struct(F.col("p1.df"), F.col("p1.token")),
    ).alias("m2")
    cnt = F.count(F.lit(1)).alias("cnt")
    # required overlap for J ≥ t with the keep-side RELATIVE slack
    req = F.lit(threshold) * (F.col("sa") + F.col("sb")) / F.lit(
        1.0 + threshold
    ) - F.lit(1e-9) * (F.col("sa") + F.col("sb"))
    cand = (
        matched.groupBy(
            F.col("p1.id").alias("id_a"),
            F.col("p2.id").alias("id_b"),
            F.col("p1.sz").alias("sa"),
            F.col("p2.sz").alias("sb"),
        )
        .agg(first, last, cnt)
        # positional filters: overlap ≤ 1 + min(sa−pa, sb−pb) at the first
        # shared token AND ≤ cnt + min(sa−pa, sb−pb) at the last surviving
        # one; required overlap for J ≥ t is t·(sa+sb)/(1+t). The RELATIVE
        # 1e-9·(sa+sb) slack makes the float comparisons err toward
        # KEEPING at any document size, so completeness is never lost to
        # rounding.
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("sa") - F.col("m.pa"), F.col("sb") - F.col("m.pb")
                )
                >= req
            )
            & (
                F.col("cnt")
                + F.least(
                    F.col("sa") - F.col("m2.pa"), F.col("sb") - F.col("m2.pb")
                )
                >= req
            )
        )
        .select("id_a", "id_b", "sa", "sb")
    )
    # verify via per-doc shingle ARRAYS + array_intersect in codegen:
    # the naive candidate×token expansion join materializes
    # |candidates|·|tokens per doc| rows (hundreds of millions on template-
    # heavy corpora); the array form joins the |docs|-row set table twice
    # and does the intersection per pair with no intermediate blow-up.
    # The token list is the persisted docarr's own array (df-rank order —
    # array_intersect hashes its inputs, so order is irrelevant to the
    # SIZE the verify consumes); the pre-r12 code re-aggregated the token
    # stream into value-sorted arrays, a second |tokens| exchange. No
    # broadcast hint: the optimizer picks broadcast vs shuffle from stats
    # (see docstring). Explicit numPartitions repartition (same nparts as
    # the tokenize stages) so AQE cannot coalesce the small candidate
    # shuffle under the expensive verify.
    sets = docarr.select(
        "id", F.transform("arr", lambda e: e["token"]).alias("ts")
    )
    return (
        cand.repartition(nparts, "id_a", "id_b")
        .join(
            sets.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b")),
            "id_b",
        )
        .withColumn("i", F.size(F.array_intersect("ts_a", "ts_b")))
        .withColumn(
            "jaccard",
            F.col("i").cast("double") / (F.col("sa") + F.col("sb") - F.col("i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.85,
    ngram: int | None = 8,
) -> DataFrame:
    """All ORDERED document pairs with token-set CONTAINMENT
    |A∩B| / |A| ≥ ``threshold`` — the asymmetric sibling of
    :func:`jaccard_prefix_pairs`: containment catches a short document
    embedded inside a long one (quote, excerpt, template expansion),
    which Jaccard's symmetric denominator (and its length filter)
    structurally miss. Returns ``(id_a, id_b, containment)`` where id_a
    is the CONTAINED side, both directions emitted when both qualify.

    Prefix filtering is one-sided: C ≥ t forces overlap ≥ ⌈t·|a|⌉, so A
    must share one of its |a| − ⌈t·|a|⌉ + 1 rarest tokens (else overlap
    ≤ |a| − prefix_len < ⌈t·|a|⌉) — only the CONTAINED side's prefix
    becomes join keys; the container side is indexed on its full token
    list (any of B's tokens can be the witness — there is no length
    upper bound to exploit, only the lower bound |B| ≥ t·|a|, applied
    at join time). Candidates dedupe to (id_a, id_b) before the exact
    array_intersect verify — complete by the prefix argument, exact by
    the verify.

    Plan shape mirrors jaccard_prefix_pairs: hashed shingles, lazy
    persists on the shared token stream, explicit numPartitions
    repartitions on the CPU-bound stages, no broadcast hints on the
    verify joins.

    Evaluated and REVERTED (r09, the r08 verdict's growth item):
    length-BANDING the container index — join key (token, g) with
    g_b = floor(log2((sz−rn+1)/t)) on container rows and the prefix side
    exploded over its eligible bands. Measured at the sf1 fixture: the
    band predicate eliminated ZERO matched rows (65,416,745 with and
    without — the at-join-time positional filter already subsumes it on
    this corpus, where hot shingles' deep ranks are pruned per row
    anyway) while the prefix explode (×2.3) and the extra g_max pass made
    the query 66.4 s → 229 s end-to-end. The growth driver is the
    df-product volume of the matched stream itself, which banding cannot
    reduce below what the positional filter already achieves; at corpus
    scale the deploy answer is domain/source partitioning or an LSH
    prescreen, with this exact join as the within-partition verifier."""
    if not 0 < threshold <= 1:
        raise ValueError("containment_prefix_pairs: threshold must be in (0, 1]")
    if ngram is None:
        toks = F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
    else:
        toks = F.array_distinct(char_ngrams(text_col, n=ngram))
    tok, docarr, nparts = _hashed_doc_arrays(df, id_col, toks)
    # docarr feeds the ranked explode and both verify joins
    docarr = docarr.persist()
    # The candidate join's two inputs read a PERSISTED FLAT ranked stream,
    # not per-consumer explodes of the nested docarr cache: the full-index
    # side is |tokens|-sized, and re-deserializing array<struct> columnar
    # cache + re-running posexplode per consumer measured 189-209 s vs
    # 92-94 s at the sf1 probe (the r12 follow-up fix — the first array
    # rewrite regressed exactly this); a flat (token,id,df,rn,sz) cache
    # restores the pre-r12 join-input shape while keeping the array-built
    # rank (no window sort) and the docarr-derived verify lists.
    ranked = _explode_ranked(docarr).persist()
    # prefix length |a| − ⌈t·|a|⌉ + 1. RELATIVE slack
    # (1e-9·sz) inside the ceil errs toward a LONGER prefix: 0.85*40
    # evaluates to 34.000000000000004 in doubles, and a bare ceil would
    # read 35, silently shortening the prefix and dropping a qualifying
    # pair whose only shared token sits at the boundary rank; scales with
    # magnitude so half-an-ULP of t·sz can never exceed it (absolute 1e-9
    # stops covering near t·sz ≈ 1e7)
    prefix_a = ranked.filter(
        F.col("rn")
        <= F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9) * F.col("sz"))
        + 1
    )
    cand = (
        prefix_a.alias("pa")
        .join(
            ranked.alias("pb"),
            (F.col("pa.token") == F.col("pb.token"))
            & (F.col("pa.id") != F.col("pb.id"))
            # container lower bound: overlap ≥ ⌈t·|a|⌉ needs |b| ≥ that
            # (relative 1e-9·|a| keep-side slack, magnitude-safe)
            & (
                F.col("pb.sz")
                >= F.lit(threshold) * F.col("pa.sz")
                - F.lit(1e-9) * F.col("pa.sz")
            )
            # ppjoin positional filter (Xiao et al., WWW'08): both docs
            # list tokens in the SAME global (df, token) order, so a match
            # at ranks (i, j) bounds overlap ≤ min(|a|−i, |b|−j) + 1. For
            # the FIRST common token the bound is ≥ the true overlap, so
            # requiring it ≥ ⌈t·|a|⌉ keeps every qualifying pair
            # (complete) while killing the hot-token explosion: a frequent
            # shingle sits at rank ≈ |b| in every container, giving
            # |b|−j ≈ 0 — exactly the rows that made the full-index side
            # spill ~74 GB at the sf1 upscale smoke before this filter.
            & (
                F.least(
                    F.col("pa.sz") - F.col("pa.rn"),
                    F.col("pb.sz") - F.col("pb.rn"),
                )
                + 1
                # keep-side RELATIVE 1e-9·|a| slack, same convention as
                # the jaccard positional filter above: ceil(0.85*40) must
                # read 34, not the 35 the bare double product would give;
                # relative so coverage holds at any document size
                >= F.ceil(
                    F.lit(threshold) * F.col("pa.sz")
                    - F.lit(1e-9) * F.col("pa.sz")
                )
            ),
        )
        .select(
            F.col("pa.id").alias("id_a"),
            F.col("pb.id").alias("id_b"),
            F.col("pa.sz").alias("sa"),
        )
        # plain 3-column distinct, NOT a pair aggregate carrying PPJoin
        # positional bounds: r13 proved both pair-level bounds (i = 1
        # first-token and i = cnt last-survivor) VACUOUS under the
        # row-level positional filter above — survival along a pair's
        # shared-token sequence is monotone under that filter, so the
        # last survivor has min(slack) + 1 ≥ ⌈t·|a|⌉ and therefore
        # cnt + min(slack_last) ≥ cnt − 1 + ⌈t·|a|⌉ ≥ ⌈t·|a|⌉ always.
        # Instrumented at sf0.1: 3,457,362 candidates with and without
        # the bounds — and unlike the Jaccard join, the q161-style weak
        # row filter buys nothing here (full-row instrumentation:
        # 3,353,355 of 3,457,362 candidates survive the full i = cnt
        # bound, a 3 % cut, against 7.9 M vs 6.5 M matched rows — the
        # asymmetric prefix is too short for positions to discriminate).
        # A/B at sf0.1 interleaved best-of-4: distinct 7.71 s vs
        # groupBy+bounds 8.40 s (narrower shuffle row, no agg buffers).
        .distinct()
    )
    # verify token lists straight off the persisted docarr (df-rank order;
    # array_intersect hashes its inputs so only the SIZE matters)
    sets = docarr.select(
        "id", F.transform("arr", lambda e: e["token"]).alias("ts")
    )
    return (
        cand.repartition(nparts, "id_a", "id_b")
        .join(
            sets.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b")),
            "id_b",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("ts_a", "ts_b")).cast("double")
            / F.col("sa"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
