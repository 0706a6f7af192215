"""Similarity search over embedding columns (``array<float>``) —
BASELINE.json north_star surface.

Two paths:
- ``cosine_topk``: brute-force exact top-k — one broadcast of the (small)
  query set against the corpus, per-corpus-row dot products via builtin
  array ops (``zip_with``/``aggregate``, JVM-side), then a per-query top-k
  window. The correctness baseline.
- ``lsh_topk``: random-hyperplane (signed random projection) LSH — each
  vector gets a ``num_bits`` signature; candidates = corpus rows sharing a
  band with the query; exact re-rank inside candidates. The 100 TB path:
  candidate generation is an equi-join on (band, band-bits), so the corpus
  is never fully scanned per query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns — builtin fold, stays
    in codegen, deterministic order (index order) so results are stable."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL when either vector has zero norm (cosine undefined) — matching
    DuckDB's ``x / 0 -> NULL`` so oracle twins agree; under ANSI mode a
    bare division would abort the whole job on one corrupt zero vector."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries × corpus → score → per-query
    top-k. Returns (query_id, vec_id, score, rank). Ties break on corpus id
    for determinism."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    # |queries| dot products per corpus row — parallelize the corpus scan
    par = corpus.sparkSession.sparkContext.defaultParallelism
    scored = corpus.repartition(par).join(F.broadcast(q), how="cross").select(
        "query_id",
        F.col(corpus_id).alias("vec_id"),
        F.round(cosine(F.col(corpus_vec), F.col("__qv")), 6).alias("score"),
    )
    # zero-norm rows score NULL (cosine undefined) and are excluded from the
    # ranking on BOTH engines — the SQL twins carry `score IS NOT NULL`; the
    # arrow twin (cosine_topk_arrow) drops the same rows batch-side, so all
    # three paths agree even when the corpus is smaller than k
    scored = scored.filter(F.col("score").isNotNull())
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via Arrow-vectorized ``mapInPandas`` — the
    throughput path for brute-force scoring: each Arrow batch scores ALL
    queries against its corpus rows with numpy column-sweep accumulation
    and emits only its per-query top-k, so the post-UDF row volume is
    ``k · |queries| · num_batches``, not ``|corpus| · |queries|``. A final
    window merges batch winners.

    Bit-parity with :func:`cosine_topk` (and the shared DuckDB oracle): the
    dot/norm accumulation sweeps indices sequentially (``acc += V[:,i]·q_i``)
    — the same order as the JVM ``aggregate`` fold — so scores are
    IEEE-identical, not merely close. Queries are collected to the driver
    (the query set is small by contract; use :func:`lsh_topk` when it
    isn't).
    """
    import pandas as pd

    qrows = queries.select(query_id, query_vec).collect()
    if not qrows:
        # empty query set -> empty (schema-correct) result, matching
        # cosine_topk's behavior on the same input
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, vec_id long, score double, rank int"
        )
    qids = np.array([r[query_id] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[query_vec]) for r in qrows], dtype=np.float64)  # (nq, d)
    dim = Q.shape[1]

    def _seq_sq_norm(M: np.ndarray) -> np.ndarray:
        acc = np.zeros(M.shape[0], dtype=np.float64)
        for i in range(M.shape[1]):
            acc += M[:, i] * M[:, i]
        return acc

    qnorm = np.sqrt(_seq_sq_norm(Q))  # (nq,)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([list(v) for v in pdf[corpus_vec]], dtype=np.float64)
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            vnorm = np.sqrt(_seq_sq_norm(V))
            # zero-norm corpus rows: cosine undefined — drop them here, the
            # same exclusion cosine_topk applies via `score IS NOT NULL`
            # (NaN must never reach the final window: Spark sorts NaN FIRST
            # under desc, which would rank garbage above every real score)
            keep = vnorm > 0.0
            if not keep.all():
                V, ids, vnorm = V[keep], ids[keep], vnorm[keep]
            if not len(ids):
                continue
            out_ids, out_qids, out_scores = [], [], []
            for j in range(len(qids)):
                if qnorm[j] == 0.0:
                    continue
                dots = np.zeros(V.shape[0], dtype=np.float64)
                qj = Q[j]
                for i in range(dim):  # sequential index sweep == JVM fold
                    dots += V[:, i] * qj[i]
                scores = np.round(dots / (vnorm * qnorm[j]), 6)
                # per-batch top-k candidates (score desc, id asc)
                order = np.lexsort((ids, -scores))[:k]
                out_ids.append(ids[order])
                out_qids.append(np.full(len(order), qids[j], dtype=np.int64))
                out_scores.append(scores[order])
            if not out_qids:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_qids),
                    "vec_id": np.concatenate(out_ids),
                    "score": np.concatenate(out_scores),
                }
            )

    par = corpus.sparkSession.sparkContext.defaultParallelism
    candidates = (
        corpus.select(corpus_id, corpus_vec)
        .repartition(par)
        .mapInPandas(score_batches, "query_id long, vec_id long, score double")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cluster_pair_scores(
    e: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "v",
    prefilter: float | None = None,
    block_rows: int = 4096,
) -> DataFrame:
    """Within-cluster pairwise RAW cosine scores — the quadratic stage of
    SemDeDup (q218), Arrow-vectorized per cluster instead of a per-pair
    JVM ``aggregate(zip_with(...))`` fold (higher-order functions are
    CodegenFallback: every pair paid an interpreted 2·dim-element fold +
    array allocation — measured 2.3 s of q218's 2.5 s at sf0.1; guide
    §4.2's hand-batches-to-native-code point). Emits one row per ordered
    pair ``(vec_id, label, u, score_raw)`` with ``u < vec_id``; the caller
    applies the display round / threshold / keeper aggregation in Spark so
    those semantics stay engine-native.

    Bit-parity with the fold it replaces (cosine_topk_arrow's proof shape):
    dot and norm accumulate with a sequential index sweep
    (``acc += V[:,j]·V[:,j]`` / ``D += outer(V[:,j], V[:,j])``) — each
    matrix cell sees the identical left-fold add order, and mul/add/sqrt/
    div are single IEEE ops — so every score is IEEE-identical to
    ``try_divide(dot(va, vb), norm(va)·norm(vb))``, including NaN
    propagation (NaN/±inf elements) and NULL on zero-norm pairs
    (``denominator == 0.0`` → null, the try_divide contract). The batch
    boundary is ``applyInArrow``, NOT ``applyInPandas``: pandas uses NaN
    as its null marker, so a genuine NaN score would come back NULL —
    and Spark's NaN-is-largest comparison semantics treat those very
    differently (NaN passes a ``>= t`` filter, NULL does not). Rows whose
    vector is NULL or contains a NULL element are excluded up front: a
    NULL anywhere makes every dot/norm involving that row NULL, so no pair
    it joins can survive the caller's threshold. Cross-length pairs
    likewise never survive the fold (``zip_with`` NULL-pads the shorter
    side), so scoring runs per length group. Zero-denominator (NULL-score)
    pairs are emitted (null ``score_raw``) only when ``prefilter`` is
    None — with a prefilter set they are dropped batch-side
    (``keep &= ~dz``), which is outcome-equivalent because a NULL score
    can never pass the caller's ``>= threshold`` filter; the caller's
    filter stays the single drop point only in the prefilter-less mode.

    ``prefilter``: optional conservative score floor applied batch-side to
    cut the Arrow return stream (pairs are the quadratic output; survivors
    are the point of SemDeDup). NaN scores always pass (Spark's
    ``NaN >= t`` is true); set it STRICTLY below the caller's rounded
    threshold so no boundary pair can be lost to the display round (e.g.
    0.299999 for a round-6 ``>= 0.30`` filter). None = emit all pairs.

    Scale shape: one shuffle keyed by the cluster label (the label
    partitioning SemDeDup's clustering step already implies), numpy block
    accumulation bounded at ``block_rows × |cluster|`` doubles per task."""
    import pyarrow as pa

    no_null_elem = ~F.exists(vec_col, lambda x: x.isNull())
    src = (
        e.filter(F.col(label_col).isNotNull() & F.col(vec_col).isNotNull())
        .filter(no_null_elem)
        .select(id_col, label_col, vec_col)
    )
    id_dt = dict(src.dtypes)[id_col]
    label_dt = dict(src.dtypes)[label_col]
    out_schema = (
        f"{id_col} {id_dt}, {label_col} {label_dt}, u {id_dt}, score_raw double"
    )

    def _score(tbl: "pa.Table") -> "pa.Table":
        id_t = tbl.schema.field(id_col).type
        lab_t = tbl.schema.field(label_col).type

        def _mk(ids_b, labs_b, u_b, sc, nullmask):
            return pa.table(
                {
                    id_col: pa.array(ids_b, id_t),
                    label_col: pa.array(labs_b, lab_t),
                    "u": pa.array(u_b, id_t),
                    "score_raw": pa.array(
                        sc, pa.float64(), mask=nullmask, from_pandas=False
                    ),
                }
            )

        if tbl.num_rows < 2:
            return _mk([], [], [], np.array([], np.float64), None)
        ids_all = tbl.column(id_col).to_numpy()
        labs_all = tbl.column(label_col).to_numpy()
        vecs = tbl.column(vec_col).to_pandas().to_numpy()
        order = np.argsort(ids_all, kind="stable")
        ids_all, labs_all, vecs = ids_all[order], labs_all[order], vecs[order]
        lens = np.fromiter((len(v) for v in vecs), np.int64, len(vecs))
        out: list[pa.Table] = []
        for length in np.unique(lens):
            if length == 0:
                continue
            m = lens == length
            c = int(m.sum())
            if c < 2:
                continue
            V = np.stack(vecs[m]).astype(np.float64, copy=False)
            ids = ids_all[m]
            labs = labs_all[m]
            nrm2 = np.zeros(c)
            for j in range(V.shape[1]):
                nrm2 += V[:, j] * V[:, j]
            na = np.sqrt(nrm2)
            for lo in range(0, c, block_rows):
                hi = min(lo + block_rows, c)
                D = np.zeros((hi - lo, c))
                for j in range(V.shape[1]):
                    D += np.outer(V[lo:hi, j], V[:, j])
                denom = np.outer(na[lo:hi], na)
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = D / denom
                bi, bj = np.nonzero(
                    ids[lo:hi, None] < ids[None, :]
                )  # strict id order — duplicate ids never self-pair
                sc = S[bi, bj]
                dz = denom[bi, bj] == 0.0
                if prefilter is not None:
                    with np.errstate(invalid="ignore"):
                        keep = (sc >= prefilter) | np.isnan(sc)
                    keep &= ~dz
                    bi, bj, sc, dz = bi[keep], bj[keep], sc[keep], dz[keep]
                out.append(_mk(ids[bj], labs[bj], ids[lo + bi], sc, dz))
        if not out:
            return _mk([], [], [], np.array([], np.float64), None)
        return pa.concat_tables(out)

    return src.groupBy(label_col).applyInArrow(_score, out_schema)


def _hyperplanes(dim: int, num_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_bits, dim))


def srp_signature(vec: Column, planes: np.ndarray) -> Column:
    """Signed-random-projection signature: bit i = sign(vec · plane_i).
    Planes are embedded as literals (they're num_bits×dim floats — tiny)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(w)) for w in plane]),
                    lambda x, pw: x.cast("double") * pw,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for plane in planes
    ]
    sig = F.lit(0).cast("long")
    for i, b in enumerate(bits):
        sig = sig.bitwiseOR(F.shiftleft(b.cast("long"), i))
    return sig


def _sql_double(x: float) -> str:
    """Render a Python double as a SQL literal that parses back to the
    IDENTICAL double: repr() is the shortest round-trip form and DuckDB's
    text→double conversion is correctly rounded; the e0 suffix forces
    DOUBLE typing (a bare decimal literal would be DECIMAL)."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "e0"


def srp_projection_sql(plane, vec_expr: str) -> str:
    """SQL expression replaying :func:`srp_signature`'s projection for one
    hyperplane BIT-FOR-BIT: the JVM ``aggregate`` fold
    ``((0.0 + v0·w0) + v1·w1) + …`` equals the left-associated SQL chain
    ``v0·w0 + v1·w1 + …`` (0.0 + x ≡ x up to the sign of zero, which
    ``>= 0`` cannot observe), so the SIGN of the projection — the part an
    LSH oracle must reproduce exactly, since an unquantized sign decides
    the candidate set — is identical on both engines. float32 elements
    widen to double exactly on both sides.

    Caveat (documented, not reachable in fixtures): a zero-LENGTH vector
    folds to 0.0 (bit 1) on Spark but indexes NULL (bit 0) in SQL; the
    embedding tables carry fixed 64-dim vectors at every SF."""
    return " + ".join(
        f"CAST({vec_expr}[{i + 1}] AS DOUBLE) * {_sql_double(w)}"
        for i, w in enumerate(plane)
    )


def srp_band_bucket_sql(planes, vec_expr: str, bands: int) -> list[str]:
    """One SQL expression per band: the band's bucket value exactly as
    :func:`lsh_topk`/``embedding_dedup_pairs`` compute it (bit i of the
    signature = sign(v·plane_i); band b packs bits [b·w, (b+1)·w) little-
    endian). NULL projections (NULL vector elements) take the CASE ELSE
    branch = bit 0, matching Spark's ``when(NULL >= 0)`` semantics."""
    num_bits = len(planes)
    bpb = num_bits // bands
    bits = [
        f"(CASE WHEN {srp_projection_sql(p, vec_expr)} >= 0 THEN 1 ELSE 0 END)"
        for p in planes
    ]
    return [
        " + ".join(f"{1 << j} * {bits[b * bpb + j]}" for j in range(bpb))
        for b in range(bands)
    ]


def lsh_topk_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 5",
    k: int = 10,
    dim: int = 64,
    num_bits: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> str:
    """ANSI-SQL replay of :func:`lsh_topk` (q42): identical seeded
    hyperplanes inlined as literal weights (they are module constants of
    the run — numpy ``default_rng(seed)``), exact sign-bit banding via
    :func:`srp_band_bucket_sql`, candidate = any-band bucket equality
    (the UNION-of-band-joins the exploded Spark join computes), then the
    q41-convention cosine re-rank (round6 masks ``list_dot_product``'s
    reduction order in the SCORE — candidates never depend on it)."""
    planes = _hyperplanes(dim, num_bits, seed)
    bbs = srp_band_bucket_sql(planes, vec_col, bands)
    bb_cols = ",\n             ".join(
        f"{e} AS bb{i}" for i, e in enumerate(bbs)
    )
    any_band = " OR ".join(f"q.bb{i} = c.bb{i}" for i in range(bands))
    return f"""
    WITH banded AS (
      SELECT {id_col}, {vec_col},
             {bb_cols}
      FROM {table}
    ),
    cand AS (
      SELECT q.{id_col} AS query_id, q.{vec_col} AS qv,
             c.{id_col} AS vec_id, c.{vec_col} AS cv
      FROM banded q JOIN banded c ON ({any_band})
      WHERE q.{query_filter}
    ),
    scored AS (
      SELECT query_id, vec_id,
             ROUND(list_dot_product(CAST(cv AS DOUBLE[]), CAST(qv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))), 6)
               AS score
      FROM cand
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM scored WHERE score IS NOT NULL
    )
    SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= {k}
    """


def _exact_topk_ctes(
    table: str, id_col: str, vec_col: str, query_filter: str, k: int
) -> str:
    """CTE block for the q41-convention exact cosine top-k (ground-truth
    side of the recall self-evals): q/escore/eranked/exact."""
    return f"""q AS (SELECT {id_col} AS query_id, {vec_col} AS qv
         FROM {table} WHERE {query_filter}),
    escore AS (
      SELECT q.query_id, e.{id_col} AS vec_id,
             ROUND(list_dot_product(CAST(e.{vec_col} AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(e.{vec_col} AS DOUBLE[]), CAST(e.{vec_col} AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6)
               AS score
      FROM {table} e CROSS JOIN q
    ),
    eranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM escore WHERE score IS NOT NULL
    ),
    exact AS (SELECT query_id, vec_id FROM eranked WHERE rank <= {k})"""


def _recall_tail_sql(approx_cte: str) -> str:
    """Final recall@k arithmetic shared by q172/q193: per-query ground-truth
    size, hit count against ``approx_cte``, coalesced IEEE division —
    mirrors the Spark expression tree term-for-term."""
    return f"""ek AS (SELECT query_id, COUNT(*) AS k FROM exact GROUP BY 1),
    hits AS (
      SELECT e.query_id, COUNT(*) AS hit
      FROM exact e JOIN {approx_cte} a
        ON a.query_id = e.query_id AND a.vec_id = e.vec_id
      GROUP BY 1
    )
    SELECT ek.query_id,
           COALESCE(h.hit, 0) / CAST(ek.k AS DOUBLE) AS recall_at_10
    FROM ek LEFT JOIN hits h ON h.query_id = ek.query_id"""


def ann_recall_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 5",
    k: int = 10,
    dim: int = 64,
    num_bits: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> str:
    """ANSI-SQL replay of q172 (recall@k of the SRP-LSH path vs exact
    ground truth): both sides are deterministic functions of the data once
    the hyperplane family is fixed — the approx side nests
    :func:`lsh_topk_oracle_sql`, the exact side is the q41 convention."""
    lsh = lsh_topk_oracle_sql(
        table, id_col, vec_col, query_filter, k, dim, num_bits, bands, seed
    )
    return f"""
    WITH approx AS (SELECT query_id, vec_id FROM ({lsh}) ap),
    {_exact_topk_ctes(table, id_col, vec_col, query_filter, k)},
    {_recall_tail_sql('approx')}
    """


def quantized_recall_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 5",
    k: int = 10,
) -> str:
    """ANSI-SQL replay of q193 (recall@k of exact search over the
    int8-quantized corpus vs float ground truth): quantize/dequantize
    exactly as the q187 oracle does (unrounded scale inside the round,
    round6 scale in the dequantize — mirroring quantize_int8's output
    contract), then the q41-convention top-k on the dequantized corpus."""
    deq_elem = (
        "CAST(CAST(GREATEST(-127, LEAST(127,"
        " CAST(ROUND(CAST(x AS DOUBLE) / (am / 127.0)) AS INT)))"
        " AS DOUBLE) * ROUND(am / 127.0, 6) AS FLOAT)"
    )
    return f"""
    WITH {_exact_topk_ctes(table, id_col, vec_col, query_filter, k)},
    t AS (
      SELECT {id_col},
             {vec_col},
             CAST(list_max(list_transform({vec_col}, x -> abs(x))) AS DOUBLE)
               AS am
      FROM {table}
    ),
    deq AS (
      SELECT {id_col} AS vec_id,
             CASE WHEN am > 0
                  THEN list_transform({vec_col}, x -> {deq_elem})
                  ELSE list_transform({vec_col}, x -> CAST(0.0 AS FLOAT)) END
               AS dv
      FROM t
    ),
    qscore AS (
      SELECT q.query_id, d.vec_id,
             ROUND(list_dot_product(CAST(d.dv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(d.dv AS DOUBLE[]), CAST(d.dv AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6)
               AS score
      FROM deq d CROSS JOIN q
    ),
    qranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM qscore WHERE score IS NOT NULL
    ),
    quant AS (SELECT query_id, vec_id FROM qranked WHERE rank <= {k}),
    {_recall_tail_sql('quant')}
    """


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    num_bits: int = 16,
    bands: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: SRP-LSH banding for candidates, exact cosine
    re-rank within candidates. Recall improves with more bands/bits;
    candidates ≪ corpus so the per-query cost is sublinear."""
    planes = _hyperplanes(dim, num_bits, seed)
    bits_per_band = num_bits // bands

    def banded(df: DataFrame, idc: str, vecc: str, role: str) -> DataFrame:
        sig = srp_signature(F.col(vecc), planes)
        mask = (1 << bits_per_band) - 1
        return df.select(
            F.col(idc).alias(f"{role}_id"),
            F.col(vecc).alias(f"__{role}v"),
            sig.alias("__sig"),
        ).select(
            f"{role}_id",
            f"__{role}v",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bnd).alias("band"),
                            F.shiftrightunsigned("__sig", bnd * bits_per_band)
                            .bitwiseAND(F.lit(mask))
                            .alias("bb"),
                        )
                        for bnd in range(bands)
                    ]
                )
            ).alias("__b"),
        ).select(f"{role}_id", f"__{role}v", "__b.band", "__b.bb")

    cq = banded(queries, query_id, query_vec, "query")
    cc = banded(corpus, corpus_id, corpus_vec, "vec")
    cand = (
        cq.join(cc, ["band", "bb"])
        .select("query_id", "vec_id", "__queryv", "__vecv")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("__vecv"), F.col("__queryv")), 6).alias("score"),
    )
    # zero-norm rows score NULL (cosine undefined) — exclude them BEFORE the
    # ranking window, same convention as cosine_topk and the SQL twins'
    # `score IS NOT NULL` (a NULL must never occupy a rank ≤ k slot)
    scored = scored.filter(F.col("score").isNotNull())
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_int8(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column — the
    standard storage/ANN-memory reduction (4x vs float32): each vector gets
    ``scale = max(|v|)/127`` and components ``q_i = round(v_i/scale)``
    clamped to [-127, 127]; zero vectors quantize to zeros with scale 0.

    Returns ``(id, scale, qvec)`` with scale round6'd (float path). Pure
    higher-order array expressions (aggregate/transform), no shuffle at all:
    the operator is embarrassingly row-parallel, which is exactly what you
    want applied to 10^11 vectors. The higher-order functions are NOT
    codegen'd — Spark runs them interpreted (CodegenFallback), evaluating a
    lambda body once per component — so the per-vector ``scale`` is bound
    once as a lambda variable (the ``transform(array(x), x -> …)`` idiom in
    ml/kmeans.py:245) instead of re-deriving ``max(|v|)`` inside the
    per-component lambda: O(dim) per vector, not O(dim²).
    """
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (absmax / F.lit(127.0)).cast("double")

    def clamp_all(s: Column) -> Column:
        return F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.round(x / s).cast("int")),
            ),
        )

    q = F.when(
        absmax > 0, F.element_at(F.transform(F.array(scale), clamp_all), 1)
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        q.alias("qvec"),
    )


def kcenter_select(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Greedy k-CENTER (farthest-point) selection — the classic 2-approx
    coreset / diverse-subset picker (Gonzalez 1985) used to choose
    maximally-spread training examples or ANN pivots. Deterministic seed:
    the smallest id. Each round adds the point FARTHEST from the chosen
    set and records its distance (the coverage radius as of that round —
    non-increasing by construction).

    Returns (step, id, radius): step 1 is the seed (radius null).

    Scale shape: the corpus-sized state is one (id, vec, d_min) frame;
    each round is (a) one broadcast of the single new center, (b) one
    vectorized ``least(d_min, dist-to-center)`` map, (c) one
    max_by reduction — k rounds of map+reduce, never a pairwise matrix.
    Driver traffic is ONE row per round (the argmax), the same bounded
    contract as BPE's per-merge collect (bpe.py). Lineage cut per round.
    Squared-euclidean in builtin array algebra (zip_with/aggregate), so
    the hot loop is all codegen.
    """
    from ..checkpointing import cut_lineage

    if k < 1:
        raise ValueError("kcenter_select: k must be >= 1")
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    seed_rows = df.orderBy(F.col(id_col).asc()).limit(1).collect()
    if not seed_rows:
        # empty corpus -> empty selection (schema-correct)
        return spark.createDataFrame([], f"step int, {id_col} {id_type}, radius double")
    seed = seed_rows[0]
    chosen: list[tuple[int, object, float | None]] = [(1, seed[id_col], None)]
    center = seed[vec_col]

    def sqdist_to(center_vec) -> Column:
        arr = F.array(*[F.lit(float(x)) for x in center_vec])
        return F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    state = df.select(
        F.col(id_col), F.col(vec_col), sqdist_to(center).alias("d_min")
    ).filter(F.col(id_col) != F.lit(seed[id_col]))
    state = cut_lineage(state)
    for step in range(2, k + 1):
        far = state.orderBy(F.desc("d_min"), F.asc(id_col)).limit(1).collect()
        if not far:
            break
        row = far[0]
        chosen.append((step, row[id_col], float(row["d_min"]) ** 0.5))
        state = (
            state.filter(F.col(id_col) != F.lit(row[id_col]))
            .select(
                F.col(id_col),
                F.col(vec_col),
                F.least(F.col("d_min"), sqdist_to(row[vec_col])).alias("d_min"),
            )
        )
        state = cut_lineage(state)
    return spark.createDataFrame(
        [(s, i, (round(r, 6) if r is not None else None)) for s, i, r in chosen],
        f"step int, {id_col} {id_type}, radius double",
    )
